"""Q245–Q253: grouped weighted percentiles, character-entropy quality
gates, mutual-information mixture audits, cross-source duplication
accounting, distributed confidence intervals, embedding-norm drift,
seasonal anomaly detection, distributed covariance, and
chance-corrected agreement — round-9 additions to the statistical-eval
and curation families.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q245 (grouped weighted percentiles) generalizes q240's
  aggregate-then-window form to MULTIPLE percentiles in one pass: ONE
  (group, value) exchange summing weights map-side, a cumulative
  window over the aggregated |group × distinct value| frame, and one
  crossing-point MIN per percentile — never a per-row rank, never a
  single-task per-group sort.  The crossing predicate
  100·cumw ≥ pct·W is exact-integer.
* q246 (char entropy) explodes characters but the (doc, char) partial
  aggregate combines map-side BEFORE the exchange — each document
  reduces to ≤|alphabet| rows in its own partition, so the shuffle
  carries ~64 rows/doc, not n_chars rows.  The per-doc entropy and
  the bucket floor are the only doubles; the 1e-14 sum-order jitter
  sits nine orders below the 0.25-nat bucket width (the q215/q209
  argument).
* q247 (mutual information) is counts-only: one (source, lang)
  aggregate, two window margins over the |S×L| frame, exact-integer
  numerators until the final log.
* q248 (cross-source duplication matrix) reuses the certified
  candidate→verify near-dup pipeline (q72/q74: banded LSH equi-join,
  row-local array_intersect verify — never all-pairs), then joins the
  pair list to the dimension-sized (doc, source) projection and
  aggregates to the |S×S| matrix.  Cost ∝ verified pairs.
* q249 (block jackknife) is the distributed CI method that needs no
  resampling pass: ONE aggregate to B=10 hash-block partial sums, and
  the delete-one-block replica means are closed-form arithmetic over
  that 10-row frame (Poisson-bootstrap without the RNG; deterministic
  because blocks are md5-hash assigned).
* q250 (embedding norm drift) rides q89/q241's posexplode shape: per
  (vec, label) squared-norm partials combine map-side, centroids are
  (label, pos) means, and the label↔global cosine join runs on the
  |labels|·dim metadata-sized frame.
* q251 (seasonal anomaly) aggregates events to (type, day) counts
  FIRST (one exchange), computes the day-of-week baseline as a window
  over that |types × days| frame, and TakeOrders the top residuals —
  raw events are touched exactly once.
* q252 (covariance block) emits per-batch gram/sum/count PARTIALS from
  one Arrow pass (a BLAS d×d matmul per batch, ~150 long-form rows to
  the shuffle regardless of corpus size); the persisted aggregate
  feeds the count/sums/gram consumers.
* q253 (Cohen's kappa) rides q183's certified score job; the
  |langs|²-row confusion matrix is persisted and every kappa term is
  an exact-integer aggregate over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators import dedup
from tidb_gateway_spark.operators.dedup import (
    DDB_BANDS,
    DDB_CAND_CHAIN,
    DDB_SHINGLES,
    DDB_SIGS,
    ddb_verified,
)
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.sampling import ddb_hash_bps
from tidb_gateway_spark.operators.text import ddb_word_count, word_count
from tidb_gateway_spark.queries.registry import REGISTRY, register

# ---------------------------------------------------------------- Q245
_Q245_PCTS = (50, 90, 99)

_Q245_ORACLE = (
    f"WITH w AS (SELECT lang, n_chars AS v, {ddb_word_count()} AS wt "
    "FROM documents), "
    "g AS (SELECT lang, v, CAST(SUM(wt) AS BIGINT) AS wv FROM w "
    "WHERE wt > 0 GROUP BY 1, 2), "
    "c AS (SELECT lang, v, "
    "CAST(SUM(wv) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cumw, "
    "CAST(SUM(wv) OVER (PARTITION BY lang) AS BIGINT) AS w FROM g) "
    "SELECT lang, ANY_VALUE(w) AS w_total, "
    + ", ".join(
        f"CAST(MIN(CASE WHEN 100*cumw >= {p}*w THEN v END) AS BIGINT) "
        f"AS p{p}"
        for p in _Q245_PCTS
    )
    + " FROM c GROUP BY lang ORDER BY lang"
)


@register(
    "q245_grouped_weighted_percentiles",
    _Q245_ORACLE,
    doc="Exact per-language TOKEN-WEIGHTED length percentiles "
        "(p50/p90/p99 of n_chars, weighted by each doc's word count) — "
        "the sequence-packing planner's question: at what document "
        "length does the q-fraction of the TOKEN MASS sit?  "
        "Generalizes q240 (single weighted median) to a percentile "
        "VECTOR in one pass: one (group, value) weight-sum exchange, "
        "one cumulative window over the aggregated frame, one "
        "crossing-point MIN per percentile (lower weighted percentile: "
        "min v with 100·cumw ≥ pct·W — exact integers, bit-identical "
        "cross-engine).  The window form is CORRECT at scale here "
        "because the value domain (n_chars) is bounded — the "
        "aggregated |group × distinct length| frame stays "
        "metadata-sized at any corpus size; for UNBOUNDED near-unique "
        "values use operators/rank.grouped_weighted_percentiles (the "
        "range-bucketed two-pass q240 rides — same algebra, full "
        "parallelism, equivalence property-tested).  MEASURED r15 "
        "(same-JVM A/B, sf10, identical results): this form 3.09 s, "
        "the gwp operator 6.62 s — gwp pays the size(split(text)) "
        "weight compute on BOTH its scans; the scan+weights+agg "
        "skeleton alone is 2.69 s, so this form sits ~15% above the "
        "irreducible floor (BASELINE.md r15).  The P99-SLA "
        "shape from the r8 verdict's next-round list.",
    tags=("statistics", "agg", "llm"),
)
def q245(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    w = d.select(
        "lang",
        F.col("n_chars").alias("v"),
        word_count().cast("bigint").alias("wt"),
    ).filter(F.col("wt") > 0)
    g = w.groupBy("lang", "v").agg(F.sum("wt").cast("bigint").alias("wv"))
    wcum = (
        Window.partitionBy("lang").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("lang")
    c = g.select(
        "lang", "v",
        F.sum("wv").over(wcum).cast("bigint").alias("cumw"),
        F.sum("wv").over(wtot).cast("bigint").alias("w"),
    )
    return (
        c.groupBy("lang")
        .agg(
            F.first("w").alias("w_total"),
            *[
                F.min(
                    F.when(100 * F.col("cumw") >= p * F.col("w"),
                           F.col("v"))
                ).cast("bigint").alias(f"p{p}")
                for p in _Q245_PCTS
            ],
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q246
# bucket width 0.25 nats: floor(H*4).  Text entropy lives in ~[2, 4.5]
# nats; gibberish/binary pushes toward the uniform-alphabet ceiling,
# boilerplate/repetition toward 0 — the standard cheap quality gate.

_Q246_ORACLE = (
    "WITH ch AS (SELECT doc_id, source, "
    "substr(text, CAST(i AS INT), 1) AS c "
    "FROM documents, UNNEST(range(1, len(text) + 1)) AS t(i) "
    "WHERE len(text) > 0), "
    "cc AS (SELECT doc_id, source, c, COUNT(*) AS n FROM ch "
    "GROUP BY 1, 2, 3), "
    "h AS (SELECT doc_id, ANY_VALUE(source) AS source, "
    "ln(CAST(SUM(n) AS DOUBLE)) - SUM(n * ln(CAST(n AS DOUBLE))) / SUM(n)"
    " AS ent FROM cc GROUP BY doc_id) "
    "SELECT source, CAST(FLOOR(ent * 4) AS INT) AS bucket, "
    "CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM h GROUP BY 1, 2 ORDER BY source, bucket"
)


@register(
    "q246_char_entropy_buckets",
    _Q246_ORACLE,
    doc="Character-level Shannon entropy per document, bucketed at "
        "0.25 nats and counted per source — the cheap gibberish/binary "
        "detector every pretraining curation stack runs before "
        "model-based quality scoring (near-zero entropy = boilerplate "
        "repetition; near-uniform = random bytes).  "
        "H = ln L − (Σ c·ln c)/L from per-(doc, char) counts.  Scale "
        "shape: the char explode partial-aggregates map-side to "
        "≤|alphabet| rows per doc before the exchange, so the shuffle "
        "is ~64 rows/doc, never n_chars rows; the bucket floor's "
        "1e-14 double jitter is nine orders below the 0.25-nat width "
        "(the q215 rounding argument).",
    tags=("llm", "text", "quality"),
)
def q246(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    ch = (
        d.filter(F.length("text") > 0)
        .select(
            "doc_id", "source",
            F.explode(F.split(F.col("text"), "")).alias("c"),
        )
        .filter(F.col("c") != "")
    )
    cc = ch.groupBy("doc_id", "source", "c").agg(F.count("*").alias("n"))
    h = cc.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        (
            F.log(F.sum("n").cast("double"))
            - F.sum(F.col("n") * F.log(F.col("n").cast("double")))
            / F.sum("n")
        ).alias("ent"),
    )
    return (
        h.select(
            "source",
            F.floor(F.col("ent") * 4).cast("int").alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------- Q247
_Q247_ORACLE = (
    "WITH sl AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM documents GROUP BY 1, 2), "
    "m AS (SELECT source, lang, n, "
    "CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS ns, "
    "CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS nl, "
    "CAST(SUM(n) OVER () AS BIGINT) AS nt FROM sl) "
    "SELECT source, lang, n, "
    "FLOOR(ln((CAST(n AS DOUBLE) * nt) / (CAST(ns AS DOUBLE) * nl))"
    "*1000000 + 0.5)/1000000 AS pmi, "
    "FLOOR((CAST(n AS DOUBLE) / nt) * "
    "ln((CAST(n AS DOUBLE) * nt) / (CAST(ns AS DOUBLE) * nl))"
    "*1000000 + 0.5)/1000000 AS mi_term "
    "FROM m ORDER BY source, lang"
)


@register(
    "q247_source_lang_mutual_information",
    _Q247_ORACLE,
    doc="Pointwise and total mutual information between source and "
        "language — the mixture-design audit that quantifies how much "
        "a source PREDICTS its language mix (MI ≈ 0 means sources are "
        "interchangeable for language balance; high MI means dropping "
        "a source skews a language).  Σ mi_term over the output is "
        "I(S;L) in nats.  Scale shape: ONE (source, lang) count "
        "exchange, margins as windows over the |S×L| aggregated frame "
        "(metadata-sized), exact-integer numerators until the final "
        "log.  Complements q215 (JS drift vs corpus) and q192 "
        "(chi-square independence) with the information-theoretic "
        "effect size.",
    tags=("statistics", "llm", "audit"),
)
def q247(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    sl = d.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n"))
    ws = Window.partitionBy("source")
    wl = Window.partitionBy("lang")
    wt = Window.partitionBy()
    m = sl.select(
        "source", "lang", "n",
        F.sum("n").over(ws).cast("bigint").alias("ns"),
        F.sum("n").over(wl).cast("bigint").alias("nl"),
        F.sum("n").over(wt).cast("bigint").alias("nt"),
    )
    ratio = (F.col("n").cast("double") * F.col("nt")) / (
        F.col("ns").cast("double") * F.col("nl"))
    return m.select(
        "source", "lang", "n",
        stable_round(F.log(ratio), 6).alias("pmi"),
        stable_round(
            (F.col("n").cast("double") / F.col("nt")) * F.log(ratio), 6
        ).alias("mi_term"),
    ).orderBy("source", "lang")


# ---------------------------------------------------------------- Q248
# Reuse q72/q74's EXACT candidate/verify definitions so the matrix is
# an aggregation of the certified pair list, not a re-derivation.

_Q248_ORACLE = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    f"{DDB_CAND_CHAIN} , {ddb_verified()}, "
    "lab AS (SELECT LEAST(da.source, db.source) AS source_a, "
    "GREATEST(da.source, db.source) AS source_b "
    "FROM ver JOIN documents da ON da.doc_id = ver.a "
    "JOIN documents db ON db.doc_id = ver.b) "
    "SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs "
    "FROM lab GROUP BY 1, 2 ORDER BY source_a, source_b"
)


@register(
    "q248_cross_source_dup_matrix",
    _Q248_ORACLE,
    doc="Cross-source duplication matrix: the q72→q74 certified "
        "near-dup pairs (MinHash-LSH candidates, exact shingle-Jaccard "
        "≥ 0.5 verify) aggregated to source×source counts — the "
        "provenance audit that tells a curation team WHO duplicates "
        "WHOM (mirror sites, syndicated feeds, re-crawls) before "
        "choosing which source a canonical doc should credit.  Scale "
        "shape: cost ∝ verified pairs (banded equi-join, row-local "
        "array_intersect verify — never all-pairs); the source lookup "
        "joins the pair list to the (doc, source) projection, and the "
        "output is the |sources|² matrix.  Pair sources are "
        "min/max-normalized so each undirected pair counts once.",
    tags=("dedup", "llm", "audit"),
)
def q248(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ver = dedup.near_dup_pairs(d).select("a", "b")
    src = d.select("doc_id", "source")
    lab = (
        ver.join(src.withColumnRenamed("doc_id", "a")
                 .withColumnRenamed("source", "sa"), "a")
        .join(src.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("source", "sb"), "b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------- Q249
_Q249_B = 10  # delete-one-block jackknife blocks (md5-hash assigned)

_Q249_ORACLE = (
    "WITH blk AS (SELECT "
    f"{ddb_hash_bps('doc_id', 'jk')} % {_Q249_B} AS b, n_chars FROM documents), "
    "p AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb, "
    "CAST(SUM(n_chars) AS BIGINT) AS sb FROM blk GROUP BY 1), "
    "t AS (SELECT b, nb, sb, CAST(SUM(nb) OVER () AS BIGINT) AS n, "
    "CAST(SUM(sb) OVER () AS BIGINT) AS s, "
    "CAST(COUNT(*) OVER () AS BIGINT) AS nblocks FROM p), "
    "r AS (SELECT b, n, s, nblocks, "
    "CAST(s - sb AS DOUBLE) / CAST(n - nb AS DOUBLE) AS mr FROM t), "
    "j AS (SELECT ANY_VALUE(n) AS n_docs, "
    "CAST(ANY_VALUE(s) AS DOUBLE) / ANY_VALUE(n) AS mean, "
    "ANY_VALUE(nblocks) AS bb, AVG(mr) AS mbar, "
    "SUM((mr - (SELECT AVG(mr) FROM r)) * "
    "(mr - (SELECT AVG(mr) FROM r))) AS ssq FROM r) "
    "SELECT n_docs, FLOOR(mean*1000000 + 0.5)/1000000 AS mean, "
    "FLOOR(sqrt((bb - 1.0)/bb * ssq)*1000000 + 0.5)/1000000 AS se, "
    "FLOOR((mean - 1.96*sqrt((bb - 1.0)/bb * ssq))*1000000 + 0.5)/1000000"
    " AS ci_lo, "
    "FLOOR((mean + 1.96*sqrt((bb - 1.0)/bb * ssq))*1000000 + 0.5)/1000000"
    " AS ci_hi FROM j"
)


@register(
    "q249_block_jackknife_ci",
    _Q249_ORACLE,
    doc="Delete-one-block jackknife 95% CI for the corpus mean doc "
        "length — the distributed confidence-interval method that "
        "needs NO resampling pass: docs are md5-hash-assigned to "
        f"B={_Q249_B} blocks, ONE aggregate produces per-block "
        "(count, sum) partials, and every replica mean "
        "m_r = (S−s_r)/(N−n_r) is closed-form arithmetic over the "
        "B-row frame (SE² = (B−1)/B · Σ(m_r−m̄)²).  The "
        "Poisson-bootstrap alternative needs an RNG per row per "
        "replica; hash blocks are deterministic across engines, "
        "partitionings and re-runs.  Complements q175 (reservoir) and "
        "q236/q237 (hypothesis tests) with an uncertainty estimate.",
    tags=("statistics", "sampling"),
)
def q249(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.sampling import hash_bps

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    blk = d.select(
        (hash_bps(F.col("doc_id"), "jk") % _Q249_B).alias("b"),
        "n_chars",
    )
    p = blk.groupBy("b").agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("n_chars").cast("bigint").alias("sb"),
    )
    w = Window.partitionBy()
    t = p.select(
        "b", "nb", "sb",
        F.sum("nb").over(w).cast("bigint").alias("n"),
        F.sum("sb").over(w).cast("bigint").alias("s"),
        F.count("*").over(w).cast("bigint").alias("nblocks"),
    )
    r = t.select(
        "n", "s", "nblocks",
        ((F.col("s") - F.col("sb")).cast("double")
         / (F.col("n") - F.col("nb")).cast("double")).alias("mr"),
    )
    mbar = r.select("mr").agg(F.avg("mr").alias("mbar"))
    j = r.crossJoin(F.broadcast(mbar)).agg(
        F.first("n").alias("n_docs"),
        (F.first("s").cast("double") / F.first("n")).alias("mean_"),
        F.first("nblocks").cast("double").alias("bb"),
        F.sum((F.col("mr") - F.col("mbar"))
              * (F.col("mr") - F.col("mbar"))).alias("ssq"),
    )
    se = F.sqrt((F.col("bb") - 1.0) / F.col("bb") * F.col("ssq"))
    return j.select(
        "n_docs",
        stable_round(F.col("mean_"), 6).alias("mean"),
        stable_round(se, 6).alias("se"),
        stable_round(F.col("mean_") - 1.96 * se, 6).alias("ci_lo"),
        stable_round(F.col("mean_") + 1.96 * se, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------- Q250
_Q250_ORACLE = (
    "WITH ex AS (SELECT vec_id, label, "
    "generate_subscripts(embedding, 1) AS pos, "
    "UNNEST(CAST(embedding AS DOUBLE[])) AS v FROM embeddings), "
    "nrm AS (SELECT vec_id, ANY_VALUE(label) AS label, "
    "sqrt(SUM(v*v)) AS nr FROM ex GROUP BY vec_id), "
    "st AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(nr) AS s1, SUM(nr*nr) AS s2 FROM nrm GROUP BY label), "
    "cl AS (SELECT label, pos, AVG(v) AS c FROM ex GROUP BY 1, 2), "
    "cg AS (SELECT pos, AVG(v) AS c FROM ex GROUP BY 1), "
    "cs AS (SELECT cl.label, SUM(cl.c * cg.c) AS dot, "
    "SUM(cl.c * cl.c) AS na2, SUM(cg.c * cg.c) AS nb2 "
    "FROM cl JOIN cg ON cl.pos = cg.pos GROUP BY cl.label) "
    "SELECT st.label, st.n, "
    "FLOOR((st.s1/st.n)*1000000 + 0.5)/1000000 AS norm_mean, "
    "FLOOR(sqrt(GREATEST(st.s2/st.n - (st.s1/st.n)*(st.s1/st.n), 0))"
    "*1000000 + 0.5)/1000000 AS norm_std, "
    "FLOOR((cs.dot / sqrt(cs.na2 * cs.nb2))*1000000 + 0.5)/1000000 "
    "AS cos_to_global "
    "FROM st JOIN cs ON cs.label = st.label ORDER BY st.label"
)


@register(
    "q250_embedding_norm_drift",
    _Q250_ORACLE,
    doc="Embedding-pipeline health audit per label: L2-norm mean/std "
        "(catches un-normalized or collapsed batches — a norm_std "
        "spike means the encoder version changed mid-corpus) and the "
        "cosine of each label centroid to the GLOBAL centroid (drift "
        "→ 1.0 means the label is losing separability — anisotropy).  "
        "Scale shape: q89/q241's posexplode form — per-vector squared "
        "norms and (label, pos)/(pos) centroid means all combine "
        "map-side; the final cosine join runs on the |labels|·dim "
        "metadata-sized frame.  Population std via the sums identity "
        "(no engine-specific stddev flavor crosses the boundary).",
    tags=("similarity", "llm", "audit"),
)
def q250(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    ex = e.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos0", "v"),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "v")
    nrm = ex.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nr"),
    )
    st = nrm.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("nr").alias("s1"),
        F.sum(F.col("nr") * F.col("nr")).alias("s2"),
    )
    cl = ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    cg = ex.groupBy("pos").agg(F.avg("v").alias("cg"))
    cs = (
        cl.join(F.broadcast(cg), "pos")
        .groupBy("label")
        .agg(
            F.sum(F.col("c") * F.col("cg")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("na2"),
            F.sum(F.col("cg") * F.col("cg")).alias("nb2"),
        )
    )
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
    return (
        st.join(cs, "label")
        .select(
            "label", "n",
            stable_round(mean, 6).alias("norm_mean"),
            stable_round(F.sqrt(var), 6).alias("norm_std"),
            stable_round(
                F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 6
            ).alias("cos_to_global"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------- Q251
_Q251_TOP = 10
_Q251_EPOCH = "1990-01-01"  # dow anchor: engine-neutral day-index mod 7

_Q251_ORACLE = (
    "WITH day AS (SELECT event_type, CAST(ts AS DATE) AS d, "
    "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), "
    "dow AS (SELECT event_type, d, cnt, "
    f"(d - DATE '{_Q251_EPOCH}') % 7 AS dw FROM day), "
    "base AS (SELECT event_type, d, cnt, "
    "AVG(CAST(cnt AS DOUBLE)) OVER (PARTITION BY event_type, dw) AS b "
    "FROM dow), "
    "z AS (SELECT event_type, strftime(d, '%Y-%m-%d') AS day, cnt, "
    "FLOOR(b*10000 + 0.5)/10000 AS baseline, "
    "FLOOR(((cnt - b)/sqrt(b))*10000 + 0.5)/10000 AS zscore FROM base) "
    "SELECT event_type, day, cnt, baseline, zscore FROM z "
    f"ORDER BY ABS(zscore) DESC, event_type, day LIMIT {_Q251_TOP}"
)


@register(
    "q251_seasonal_anomaly_residual",
    _Q251_ORACLE,
    doc="Seasonal anomaly detection on the event stream: daily counts "
        "per event type, a DAY-OF-WEEK baseline (weekly seasonality — "
        "the pattern a flat mean-threshold detector like q137/q182 "
        "false-alarms on every weekend), and the top Poisson-scaled "
        "residuals z = (cnt−baseline)/√baseline.  Day-of-week is "
        "computed as (date − epoch) mod 7 so both engines agree "
        "without locale/week-start conventions.  Scale shape: raw "
        "events aggregate to (type, day) counts in ONE exchange; the "
        "baseline window and the top-k both run over that "
        "|types × days| metadata-sized frame (TakeOrdered, no global "
        "sort).",
    tags=("analytics", "statistics", "streaming"),
)
def q251(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_min_partitions(load_table(spark, sf_dir, "events"))
    day = (
        ev.select("event_type", F.col("ts").cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    dow = day.withColumn(
        "dw", F.datediff(F.col("d"), F.lit(_Q251_EPOCH).cast("date")) % 7)
    base = dow.withColumn(
        "b",
        F.avg(F.col("cnt").cast("double"))
        .over(Window.partitionBy("event_type", "dw")),
    )
    z = base.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "cnt",
        stable_round(F.col("b"), 4).alias("baseline"),
        stable_round(
            (F.col("cnt") - F.col("b")) / F.sqrt(F.col("b")), 4
        ).alias("zscore"),
    )
    return z.orderBy(
        F.abs(F.col("zscore")).desc(), "event_type", "day"
    ).limit(_Q251_TOP)


# ---------------------------------------------------------------- Q252
_Q252_D = 16  # leading embedding dims profiled (|block| = D(D+1)/2 rows)

_Q252_ORACLE = (
    "WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, "
    "UNNEST(CAST(embedding AS DOUBLE[])) AS v FROM embeddings), "
    f"a AS (SELECT vec_id, CAST(i AS INT) AS i, v FROM ex WHERE i <= {_Q252_D}), "
    "p AS (SELECT x.i AS i, y.i AS j, SUM(x.v * y.v) AS g "
    "FROM a x JOIN a y ON y.vec_id = x.vec_id AND y.i >= x.i "
    "GROUP BY 1, 2), "
    "m AS (SELECT i, SUM(v) AS s, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM a GROUP BY i) "
    "SELECT p.i, p.j, "
    "FLOOR(((p.g - mi.s * mj.s / mi.n) / mi.n) * 1e6 + 0.5) / 1e6 AS cov "
    "FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j "
    "ORDER BY p.i, p.j"
)


@register(
    "q252_embedding_covariance_block",
    _Q252_ORACLE,
    doc="Distributed covariance (population) of the leading "
        f"{_Q252_D} embedding dimensions — the X'X building block of "
        "PCA/whitening/anisotropy audits over an embedding corpus.  "
        "Scale shape: ONE Arrow pass; each batch emits its LOCAL gram "
        "partial (one BLAS d×d matmul), per-dim sums and count as "
        "D(D+1)/2 + D + 1 long-form rows, so the shuffle carries "
        "~150 rows per batch regardless of corpus size; cov_ij = "
        "(ΣG_ij − s_i·s_j/n)/n assembles on the aggregated frame.  "
        "The JVM alternative (posexplode self-join on vec_id) "
        "shuffles N·D² rows.  Double-sum divergence is divided by n, "
        "pushing it ~9 orders below the 1e-6 rounding quantum.",
    tags=("similarity", "llm", "statistics"),
)
def q252(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist
    from tidb_gateway_spark.operators.similarity import vector_batches

    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))

    def gram(pdf, M):
        import pandas as pd

        M = M[:, :_Q252_D]
        G = M.T @ M
        s = M.sum(axis=0)
        rows = [
            (i + 1, j + 1, float(G[i, j]))
            for i in range(_Q252_D) for j in range(i, _Q252_D)
        ]
        rows += [(i + 1, 0, float(s[i])) for i in range(_Q252_D)]
        rows.append((0, 0, float(len(M))))
        return pd.DataFrame(rows, columns=["i", "j", "v"])

    # the aggregated partial table feeds three consumers (count, sums,
    # gram) — persist it or each consumer re-runs the corpus pass
    agg = tracked_persist(
        vector_batches(e.select("embedding"), "embedding", gram,
                       "i int, j int, v double")
        .groupBy("i", "j").agg(F.sum("v").alias("v"))
    )
    n = agg.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("v").alias("n"))
    s = agg.filter((F.col("i") > 0) & (F.col("j") == 0)).select(
        F.col("i").alias("k"), F.col("v").alias("s"))
    g = agg.filter(F.col("j") > 0)
    si = s.select(F.col("k").alias("i"), F.col("s").alias("si"))
    sj = s.select(F.col("k").alias("j"), F.col("s").alias("sj"))
    return (
        g.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i", "j",
            stable_round(
                (F.col("v") - F.col("si") * F.col("sj") / F.col("n"))
                / F.col("n"), 6
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------- Q253
def _q253_oracle() -> str:
    # q183's oracle ends with the confusion-matrix SELECT; wrap it as a
    # CTE and aggregate the chance-corrected agreement statistic
    conf_sql = REGISTRY["q183_trigram_langid_confusion"].oracle.replace(
        "ORDER BY lang, pred_lang", "")
    return (
        f"WITH conf AS ({conf_sql}), "
        "r AS (SELECT lang AS k, CAST(SUM(n_docs) AS BIGINT) AS a "
        "FROM conf GROUP BY 1), "
        "c AS (SELECT pred_lang AS k, CAST(SUM(n_docs) AS BIGINT) AS b "
        "FROM conf GROUP BY 1), "
        "m AS (SELECT COALESCE(a, 0) AS a, COALESCE(b, 0) AS b "
        "FROM r FULL OUTER JOIN c ON c.k = r.k), "
        "s AS (SELECT CAST(SUM(a) AS BIGINT) AS n, "
        "CAST(SUM(a * b) AS BIGINT) AS ab FROM m), "
        "d AS (SELECT CAST(SUM(CASE WHEN lang = pred_lang THEN n_docs "
        "ELSE 0 END) AS BIGINT) AS hits FROM conf) "
        "SELECT s.n, "
        "FLOOR((CAST(d.hits AS DOUBLE) / s.n) * 1e6 + 0.5) / 1e6 AS po_, "
        "FLOOR((CAST(s.ab AS DOUBLE) / (CAST(s.n AS DOUBLE) * s.n)) "
        "* 1e6 + 0.5) / 1e6 AS pe_, "
        "FLOOR(((CAST(d.hits AS DOUBLE) / s.n "
        "- CAST(s.ab AS DOUBLE) / (CAST(s.n AS DOUBLE) * s.n)) "
        "/ (1 - CAST(s.ab AS DOUBLE) / (CAST(s.n AS DOUBLE) * s.n))) "
        "* 1e6 + 0.5) / 1e6 AS kappa "
        "FROM s CROSS JOIN d"
    )


@register(
    "q253_cohens_kappa",
    _q253_oracle(),
    doc="Cohen's kappa between the corpus language METADATA and the "
        "q183 trigram classifier's prediction — chance-corrected "
        "agreement, the statistic annotation pipelines report instead "
        "of raw accuracy when label priors are skewed (κ = "
        "(p_o − p_e)/(1 − p_e), p_e from the margin products).  Scale "
        "shape: rides q183's certified score job (model = mtime-keyed "
        "companion, one map-side-combined scan); the confusion matrix "
        "is persisted (|langs|² rows) and every kappa term is an "
        "exact-integer aggregate over it — margins via two tiny "
        "groupBys full-outer-joined so a label missing from either "
        "side contributes its exact zero product.",
    tags=("statistics", "llm", "governance"),
)
def q253(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist
    from tidb_gateway_spark.queries import governance

    conf = tracked_persist(governance.q183(spark, sf_dir))
    r = conf.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("a"))
    c = conf.groupBy("pred_lang").agg(
        F.sum("n_docs").cast("bigint").alias("b"))
    m = r.join(c, r["lang"] == c["pred_lang"], "full_outer").select(
        F.coalesce("a", F.lit(0)).alias("a"),
        F.coalesce("b", F.lit(0)).alias("b"),
    )
    s = m.agg(
        F.sum("a").cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("ab"),
    )
    d = conf.agg(
        F.sum(F.when(F.col("lang") == F.col("pred_lang"),
                     F.col("n_docs")).otherwise(0))
        .cast("bigint").alias("hits"))
    po = F.col("hits").cast("double") / F.col("n")
    pe = F.col("ab").cast("double") / (F.col("n").cast("double")
                                       * F.col("n"))
    return s.crossJoin(d).select(
        "n",
        stable_round(po, 6).alias("po_"),
        stable_round(pe, 6).alias("pe_"),
        stable_round((po - pe) / (1 - pe), 6).alias("kappa"),
    )

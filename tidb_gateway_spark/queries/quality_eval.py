"""Q236–Q243: statistical testing, classifier-evaluation, robust
statistics, and curation-rule operators.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q236 (KS test) and q237 (AUC) never globally rank raw rows: both
  aggregate to per-distinct-value counts FIRST (one hash exchange of
  (value, counts) pairs), then run the cumulative window over the
  |distinct values|-row frame.  The KS numerator and the tie-corrected
  rank sum stay exact integers until one final division, so both
  engines compare bit-identical doubles.
* q238 (decile lift) uses operators/rank.global_ntile — the two-pass
  range-bucketed rank — so the global score ordering never lands in a
  single-partition window.
* q239 (curation-rule waterfall) is ONE corpus scan with row-local
  higher-order-function flags and ONE map-side-combined aggregate;
  the 6-row reshape is a stack over the 1-row result.
* q240 (weighted median) and q243 (trimmed/winsorized means) use the
  aggregate-then-window form: ONE (group, value) exchange, cumulative
  weights/counts over the aggregated frame, and rank-range arithmetic
  (overlap of each value's position interval with the trim window) —
  no per-row ranks, no per-group whole-partition sorts.
* q241 (centroid affinity) reuses q89's posexplode centroid shape;
  the pairwise-cosine join runs on the |labels|·dim frame (metadata-
  sized) and is broadcast.
* q242 (top-p mass cap) is a per-source cumulative window; the decide
  predicate (10·cum_prev < 9·total) is exact-integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators import text as text_ops
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.rank import global_ntile
from tidb_gateway_spark.queries.registry import register

# ---------------------------------------------------------------- Q236
_Q236_A, _Q236_B = "src0", "src1"

_Q236_ORACLE = (
    "WITH g AS (SELECT n_chars AS v, "
    f"CAST(SUM(CASE WHEN source = '{_Q236_A}' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS ca, "
    f"CAST(SUM(CASE WHEN source = '{_Q236_B}' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS cb "
    f"FROM documents WHERE source IN ('{_Q236_A}', '{_Q236_B}') GROUP BY 1), "
    "c AS (SELECT v, "
    "CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a, "
    "CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b, "
    "CAST(SUM(ca) OVER () AS BIGINT) AS n_a, "
    "CAST(SUM(cb) OVER () AS BIGINT) AS n_b FROM g), "
    "d AS (SELECT v, ABS(cum_a * n_b - cum_b * n_a) AS dnum, n_a, n_b "
    "FROM c), "
    "m AS (SELECT CAST(MAX(dnum) AS BIGINT) AS d_num FROM d) "
    "SELECT ANY_VALUE(d.n_a) AS n_a, ANY_VALUE(d.n_b) AS n_b, m.d_num, "
    "FLOOR((CAST(m.d_num AS DOUBLE) / "
    "(ANY_VALUE(d.n_a) * ANY_VALUE(d.n_b)))*1000000 + 0.5)/1000000 AS ks_d, "
    "CAST(MIN(CASE WHEN d.dnum = m.d_num THEN d.v END) AS BIGINT) AS ks_at "
    "FROM d CROSS JOIN m GROUP BY m.d_num"
)


@register(
    "q236_ks_two_sample",
    _Q236_ORACLE,
    doc="Two-sample Kolmogorov-Smirnov test between two sources' "
        "doc-length (n_chars) distributions - the distribution-shift "
        "gate a curation run applies before mixing a new crawl in "
        "(complements PSI q115 and chi-square q192 with an exact, "
        "binning-free statistic).  Scale shape: ONE hash exchange of "
        "per-distinct-value counts, cumulative ECDFs via a window over "
        "the |distinct values|-row aggregated frame (never raw rows); "
        "the D numerator |cum_a*n_b - cum_b*n_a| stays an exact "
        "integer, so the statistic and its argmax location are "
        "bit-identical cross-engine with ONE final division.",
    tags=("statistics", "governance", "llm"),
)
def q236(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    g = (
        d.filter(F.col("source").isin(_Q236_A, _Q236_B))
        .groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.sum(F.when(F.col("source") == _Q236_A, 1).otherwise(0))
            .cast("bigint").alias("ca"),
            F.sum(F.when(F.col("source") == _Q236_B, 1).otherwise(0))
            .cast("bigint").alias("cb"),
        )
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    c = g.select(
        "v",
        F.sum("ca").over(wc).cast("bigint").alias("cum_a"),
        F.sum("cb").over(wc).cast("bigint").alias("cum_b"),
        F.sum("ca").over(wt).cast("bigint").alias("n_a"),
        F.sum("cb").over(wt).cast("bigint").alias("n_b"),
    )
    dd = c.select(
        "v", "n_a", "n_b",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        .alias("dnum"),
    )
    m = dd.agg(F.max("dnum").cast("bigint").alias("d_num"))
    return (
        dd.crossJoin(F.broadcast(m))
        .groupBy("d_num")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            stable_round(
                F.first("d_num").cast("double")
                / (F.first("n_a") * F.first("n_b")), 6).alias("ks_d"),
            F.min(F.when(F.col("dnum") == F.col("d_num"), F.col("v")))
            .cast("bigint").alias("ks_at"),
        )
        .select("n_a", "n_b", "d_num", "ks_d", "ks_at")
    )


# ---------------------------------------------------------------- Q237
_Q237_POS_MIN = 5  # labels 5-9 are the positive class

_Q237_ORACLE = (
    "WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS score, "
    f"(CASE WHEN label >= {_Q237_POS_MIN} THEN 1 ELSE 0 END) AS pos "
    "FROM embeddings), "
    "g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c, "
    "CAST(SUM(pos) AS BIGINT) AS cp FROM s GROUP BY score), "
    "w AS (SELECT score, c, cp, CAST(COALESCE(SUM(c) OVER ("
    "ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS BIGINT) AS cprev FROM g), "
    "t AS (SELECT CAST(SUM(cp * (2*cprev + c + 1)) AS BIGINT) AS s2, "
    "CAST(SUM(cp) AS BIGINT) AS n_pos, "
    "CAST(SUM(c) - SUM(cp) AS BIGINT) AS n_neg FROM w) "
    "SELECT n_pos, n_neg, "
    "CAST(s2 - n_pos*(n_pos + 1) AS BIGINT) AS u2, "
    "FLOOR((CAST(s2 - n_pos*(n_pos + 1) AS DOUBLE) / (2.0*n_pos*n_neg))"
    "*1000000 + 0.5)/1000000 AS auc FROM t"
)


@register(
    "q237_auc_mann_whitney",
    _Q237_ORACLE,
    doc="ROC AUC of a scoring column (embedding[0]) against a binary "
        "label (label >= 5) via the Mann-Whitney rank-sum identity "
        "with exact tie correction - the validation every learned "
        "quality/toxicity filter needs before it gates a corpus.  "
        "Scale shape: aggregate to per-distinct-score (count, "
        "pos-count) pairs FIRST (one hash exchange), then average "
        "ranks come from a cumulative window over the aggregated "
        "frame: 2*Sigma(avg rank of positives) = "
        "Sigma cp*(2*cum_prev + c + 1) stays an exact integer "
        "(no raw-row global rank, no half-integer floats); "
        "AUC = (2S - n_pos(n_pos+1)) / (2 n_pos n_neg) is ONE "
        "division of exact integers, bit-identical cross-engine.",
    tags=("statistics", "llm", "eval"),
)
def q237(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    s = e.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= _Q237_POS_MIN, 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("score").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("pos").cast("bigint").alias("cp"),
    )
    wprev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1)
    w = g.select(
        "c", "cp",
        F.coalesce(F.sum("c").over(wprev), F.lit(0)).cast("bigint")
        .alias("cprev"),
    )
    t = w.agg(
        F.sum(F.col("cp") * (2 * F.col("cprev") + F.col("c") + 1))
        .cast("bigint").alias("s2"),
        F.sum("cp").cast("bigint").alias("n_pos"),
        (F.sum("c") - F.sum("cp")).cast("bigint").alias("n_neg"),
    )
    u2 = F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return t.select(
        "n_pos", "n_neg", u2.cast("bigint").alias("u2"),
        stable_round(
            u2.cast("double") / (2.0 * F.col("n_pos") * F.col("n_neg")), 6)
        .alias("auc"),
    )


# ---------------------------------------------------------------- Q238
_Q238_ORACLE = (
    "WITH s AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score, "
    f"(CASE WHEN label >= {_Q237_POS_MIN} THEN 1 ELSE 0 END) AS pos "
    "FROM embeddings), "
    "d AS (SELECT CAST(NTILE(10) OVER (ORDER BY score DESC, vec_id) "
    "AS INT) AS decile, pos FROM s), "
    "g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(pos) AS BIGINT) AS n_pos FROM d GROUP BY decile) "
    "SELECT decile, n, n_pos, "
    "FLOOR((CAST(n_pos AS DOUBLE)/n)*1000000 + 0.5)/1000000 AS pos_rate, "
    "FLOOR((CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE) / "
    "SUM(n_pos) OVER ())*1000000 + 0.5)/1000000 AS cum_capture "
    "FROM g ORDER BY decile"
)


@register(
    "q238_decile_lift_table",
    _Q238_ORACLE,
    doc="Decile lift/gains table: rank rows by a score (embedding[0], "
        "descending), cut into 10 equal tiles, and report per decile "
        "the positive rate and the cumulative capture of all "
        "positives - the table that says 'the top 20% of the filter's "
        "scores captures 55% of the good documents', i.e. how "
        "aggressively a learned quality score can be thresholded.  "
        "Scale shape: the global decile assignment uses "
        "operators/rank.global_ntile (two-pass range-bucketed rank - "
        "literal bucket boundaries, in-bucket windows, driver "
        "prefix-sum of |buckets| counts), so no single-partition "
        "window touches raw rows; everything after is a 10-row frame.  "
        "Tie-break (score DESC, vec_id) is total, so the tiling is "
        "deterministic; counts are exact integers and the two rates "
        "are single exact-int divisions.",
    tags=("statistics", "llm", "eval", "window"),
)
def q238(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    s = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= _Q237_POS_MIN, 1).otherwise(0).alias("pos"),
    )
    d = global_ntile(s, 10, [("score", "desc"), "vec_id"], out_col="decile")
    g = d.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return (
        g.select(
            "decile", "n", "n_pos",
            stable_round(F.col("n_pos").cast("double") / F.col("n"), 6)
            .alias("pos_rate"),
            stable_round(
                F.sum("n_pos").over(wcum).cast("double")
                / F.sum("n_pos").over(wall), 6).alias("cum_capture"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------- Q239
# Gopher/C4-flavored rule chain; thresholds tuned to the synthetic
# corpus so every stage removes something at sf0.01.
_Q239_STAGES = (
    ("0_raw", None),
    ("1_min_words", "r1"),
    ("2_max_words", "r2"),
    ("3_mean_word_len", "r3"),
    ("4_distinct_frac", "r4"),
    ("5_max_word_len", "r5"),
)

_Q239_ORACLE = (
    f"WITH f AS (SELECT {text_ops.ddb_words()} AS words FROM documents), "
    "m AS (SELECT CAST(len(words) AS BIGINT) AS n, "
    "CAST(COALESCE(list_sum(list_transform(words, x -> len(x))), 0) "
    "AS BIGINT) AS sumlen, "
    "CAST(COALESCE(list_max(list_transform(words, x -> len(x))), 0) "
    "AS BIGINT) AS maxlen, "
    "CAST(len(list_distinct(words)) AS BIGINT) AS ndist FROM f), "
    "r AS (SELECT (n >= 20) AS r1, (n <= 90) AS r2, "
    "(10*sumlen BETWEEN 40*n AND 47*n) AS r3, "
    "(10*ndist >= 5*n) AS r4, (maxlen <= 7) AS r5 FROM m), "
    "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS s0, "
    "CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS s1, "
    "CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS s2, "
    "CAST(SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS s3, "
    "CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS s4, "
    "CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS s5 FROM r) "
    "SELECT '0_raw' AS stage, s0 AS n_docs, CAST(0 AS BIGINT) AS n_removed "
    "FROM c "
    "UNION ALL SELECT '1_min_words', s1, s0 - s1 FROM c "
    "UNION ALL SELECT '2_max_words', s2, s1 - s2 FROM c "
    "UNION ALL SELECT '3_mean_word_len', s3, s2 - s3 FROM c "
    "UNION ALL SELECT '4_distinct_frac', s4, s3 - s4 FROM c "
    "UNION ALL SELECT '5_max_word_len', s5, s4 - s5 FROM c "
    "ORDER BY stage"
)


@register(
    "q239_quality_rule_waterfall",
    _Q239_ORACLE,
    doc="Gopher/C4-style curation-rule waterfall: five document-level "
        "rules (min/max word count, mean word length band, distinct-"
        "word fraction, max word length) applied as a SEQUENTIAL "
        "filter chain, reporting surviving-doc count and marginal "
        "removals per stage - the per-rule attribution report every "
        "published corpus (Gopher, RefinedWeb, FineWeb) ships.  "
        "Complements q78/q122 (score histograms) with rule-chain "
        "attribution.  Scale shape: ONE corpus scan; every rule flag "
        "is a row-local higher-order-function expression (no explode, "
        "no shuffle of words); ONE map-side-combined aggregate "
        "produces the six stage counters and the 6-row reshape is a "
        "stack over that 1-row frame.  All counters exact integers.",
    tags=("llm", "quality", "governance"),
)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    words = text_ops.words()
    m = d.select(
        F.size(words).cast("bigint").alias("n"),
        F.coalesce(
            F.aggregate(
                F.transform(words, F.length),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x),
            F.lit(0)).cast("bigint").alias("sumlen"),
        F.coalesce(F.array_max(F.transform(words, F.length)), F.lit(0))
        .cast("bigint").alias("maxlen"),
        F.size(F.array_distinct(words)).cast("bigint").alias("ndist"),
    )
    r = m.select(
        (F.col("n") >= 20).alias("r1"),
        (F.col("n") <= 90).alias("r2"),
        ((10 * F.col("sumlen") >= 40 * F.col("n"))
         & (10 * F.col("sumlen") <= 47 * F.col("n"))).alias("r3"),
        (10 * F.col("ndist") >= 5 * F.col("n")).alias("r4"),
        (F.col("maxlen") <= 7).alias("r5"),
    )
    flags = [F.col(f"r{i}") for i in range(1, 6)]
    cum = []
    acc = None
    for fl in flags:
        acc = fl if acc is None else (acc & fl)
        cum.append(acc)
    c = r.agg(
        F.count("*").cast("bigint").alias("s0"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"s{i+1}")
            for i, cond in enumerate(cum)
        ],
    )
    stack_args = ", ".join(
        f"'{name}', s{i}, " + ("CAST(0 AS BIGINT)" if i == 0
                               else f"s{i-1} - s{i}")
        for i, (name, _) in enumerate(_Q239_STAGES)
    )
    return (
        c.select(F.expr(
            f"stack({len(_Q239_STAGES)}, {stack_args}) AS "
            "(stage, n_docs, n_removed)"))
        .orderBy("stage")
    )


# ---------------------------------------------------------------- Q240
_Q240_ORACLE = (
    "WITH g AS (SELECT l_returnflag AS rf, "
    "CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT) AS cents, "
    "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wv "
    "FROM lineitem GROUP BY 1, 2), "
    "c AS (SELECT rf, cents, "
    "CAST(SUM(wv) OVER (PARTITION BY rf ORDER BY cents) AS BIGINT) "
    "AS cumw, "
    "CAST(SUM(wv) OVER (PARTITION BY rf) AS BIGINT) AS w FROM g) "
    "SELECT rf AS l_returnflag, ANY_VALUE(w) AS w_total, "
    "CAST(MIN(CASE WHEN 2*cumw >= w THEN cents END) AS BIGINT) "
    "AS wmedian_cents "
    "FROM c GROUP BY rf ORDER BY rf"
)


@register(
    "q240_weighted_median",
    _Q240_ORACLE,
    doc="Exact per-group WEIGHTED median: l_extendedprice (cents) "
        "weighted by l_quantity per return flag - the lower weighted "
        "median (smallest x with cumulative weight >= half the total), "
        "the robust center a billing/pricing audit wants when rows "
        "carry multiplicity.  Complements q219 (unweighted exact "
        "median).  Scale shape (r9: rides operators/rank."
        "grouped_weighted_percentiles): aggregate to (group, value) "
        "weight sums FIRST, bucket offsets from a metadata-sized "
        "(group, bucket) table, cumulative weights over only the ONE "
        "target bucket per group — cents is near-unique, so the "
        "aggregate-then-Window.partitionBy(group) form would sort "
        "~|group| values in one task (the q219 single-task trap).  "
        "The crossing predicate 100·cumw >= 50·W ≡ 2·cumw >= W stays "
        "exact-integer.",
    tags=("statistics", "agg"),
)
def q240(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.rank import (
        grouped_weighted_percentiles,
    )

    li = ensure_min_partitions(load_table(spark, sf_dir, "lineitem"))
    w = li.select(
        F.col("l_returnflag").alias("rf"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    res = grouped_weighted_percentiles(w, "rf", "cents", "q", [50])
    return (
        res.select(
            F.col("rf").alias("l_returnflag"), "w_total",
            F.col("p50").cast("bigint").alias("wmedian_cents"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q241
_Q241_ORACLE = (
    "WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, "
    "UNNEST(CAST(embedding AS DOUBLE[])) AS v FROM embeddings), "
    "cent AS (SELECT label, pos, AVG(v) AS c FROM ex GROUP BY label, pos), "
    "p AS (SELECT a.label AS label_a, b.label AS label_b, "
    "SUM(a.c * b.c) AS dot, SUM(a.c * a.c) AS na2, SUM(b.c * b.c) AS nb2 "
    "FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label "
    "GROUP BY 1, 2) "
    "SELECT label_a, label_b, "
    "FLOOR((dot / SQRT(na2 * nb2))*1000000 + 0.5)/1000000 AS cos_ "
    "FROM p ORDER BY label_a, label_b"
)


@register(
    "q241_centroid_affinity_matrix",
    _Q241_ORACLE,
    doc="Corpus cartography: pairwise cosine similarity between "
        "per-label embedding centroids - the |labels| x |labels| "
        "affinity map that tells a mixture designer which data "
        "clusters are near-redundant before weighting them (the "
        "cluster-level companion of q89's centroids and q211's "
        "SemDeDup cells).  Scale shape: centroids via posexplode -> "
        "(label, pos) mean (no array-sized aggregator state, as q89); "
        "the pairwise join runs on the |labels| * dim aggregated frame "
        "(metadata-sized, broadcast) - the corpus is scanned ONCE and "
        "never pairwise.  Cosine from the same summed products both "
        "engines compute over identical per-(label,pos) means.",
    tags=("similarity", "llm", "eval"),
)
def q241(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    ex = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("pos", "v"),
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    a = cent.select(F.col("label").alias("label_a"), "pos",
                    F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos",
                    F.col("c").alias("cb"))
    p = (
        a.join(F.broadcast(b),
               (a.pos == b.pos) & (a.label_a < b.label_b))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
        )
    )
    return (
        p.select(
            "label_a", "label_b",
            stable_round(
                F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 6)
            .alias("cos_"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------- Q242
_Q242_KEEP_BPS = 9000  # keep while 10^4 * cum_prev < KEEP_BPS * total

_Q242_ORACLE = (
    "WITH t AS (SELECT * FROM (SELECT doc_id, source, "
    f"CAST({text_ops.ddb_word_count()} AS BIGINT) AS nt FROM documents) "
    "WHERE nt > 0), "
    "c AS (SELECT source, nt, "
    "CAST(COALESCE(SUM(nt) OVER (PARTITION BY source "
    "ORDER BY nt DESC, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
    "AS cum_prev, "
    "CAST(SUM(nt) OVER (PARTITION BY source) AS BIGINT) AS tot FROM t) "
    f"SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    f"CAST(SUM(CASE WHEN 10000*cum_prev < {_Q242_KEEP_BPS}*tot "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    "ANY_VALUE(tot) AS tokens_total, "
    f"CAST(SUM(CASE WHEN 10000*cum_prev < {_Q242_KEEP_BPS}*tot "
    "THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept "
    "FROM c GROUP BY source ORDER BY source"
)


@register(
    "q242_top_p_mass_cap",
    _Q242_ORACLE,
    doc="Per-source nucleus (top-p) token-mass cap: within each "
        "source, keep documents in descending token-count order until "
        "90% of the source's token mass is covered, and report "
        "kept/dropped docs and tokens - the long-tail truncation a "
        "mixture builder applies to bound a source's cost without "
        "changing its head (complements q202's doc-COUNT cap and "
        "q233's cross-source budget solver with a WITHIN-source mass "
        "rule).  Scale shape: one token-count scan, one per-source "
        "cumulative window ((nt DESC, doc_id) is a total order), and "
        "the keep predicate 10^4*cum_prev < 9000*total is exact-"
        "integer; parallelism is |sources| at the window stage - for "
        "few huge sources the grouped two-pass rank (operators/rank) "
        "is the drop-in, as q219.",
    tags=("llm", "sampling", "corpus"),
)
def q242(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id", "source", text_ops.word_count().cast("bigint").alias("nt"),
    ).filter(F.col("nt") > 0)
    wprev = (
        Window.partitionBy("source")
        .orderBy(F.desc("nt"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy("source")
    c = base.select(
        "source", "nt",
        F.coalesce(F.sum("nt").over(wprev), F.lit(0)).cast("bigint")
        .alias("cum_prev"),
        F.sum("nt").over(wtot).cast("bigint").alias("tot"),
    )
    keep = 10000 * F.col("cum_prev") < _Q242_KEEP_BPS * F.col("tot")
    return (
        c.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint")
            .alias("n_kept"),
            F.first("tot").alias("tokens_total"),
            F.sum(F.when(keep, F.col("nt")).otherwise(0)).cast("bigint")
            .alias("tokens_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q243
_Q243_TRIM_BPS = 1000  # trim 10% from each tail

_Q243_ORACLE = (
    "WITH g AS (SELECT o_orderpriority AS pr, "
    "CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS cents, "
    "CAST(COUNT(*) AS BIGINT) AS cv FROM orders GROUP BY 1, 2), "
    "c AS (SELECT pr, cents, cv, "
    "CAST(SUM(cv) OVER (PARTITION BY pr ORDER BY cents) AS BIGINT) "
    "AS cum, "
    "CAST(SUM(cv) OVER (PARTITION BY pr) AS BIGINT) AS n FROM g), "
    f"b AS (SELECT *, CAST(n*{_Q243_TRIM_BPS}//10000 AS BIGINT) AS lo, "
    "CAST(cum - cv AS BIGINT) AS cum_prev FROM c), "
    "k AS (SELECT pr, cents, n, lo, "
    "GREATEST(CAST(0 AS BIGINT), "
    "LEAST(cum, n - lo) - GREATEST(cum_prev, lo)) AS kc "
    "FROM b), "
    "s AS (SELECT pr, ANY_VALUE(n) AS n, ANY_VALUE(lo) AS lo, "
    "CAST(SUM(cents*kc) AS BIGINT) AS sum_kept, "
    "CAST(SUM(kc) AS BIGINT) AS cnt_kept, "
    "CAST(MIN(CASE WHEN kc > 0 THEN cents END) AS BIGINT) AS min_kept, "
    "CAST(MAX(CASE WHEN kc > 0 THEN cents END) AS BIGINT) AS max_kept "
    "FROM k GROUP BY pr) "
    "SELECT pr AS o_orderpriority, n, "
    "FLOOR((CAST(sum_kept AS DOUBLE)/cnt_kept)*10000 + 0.5)/10000 "
    "AS trimmed_mean_cents, "
    "FLOOR((CAST(sum_kept + lo*min_kept + lo*max_kept AS DOUBLE)/n)"
    "*10000 + 0.5)/10000 AS winsor_mean_cents "
    "FROM s ORDER BY pr"
)


@register(
    "q243_trimmed_winsorized_means",
    _Q243_ORACLE,
    doc="Robust per-group location: 10%-per-tail TRIMMED mean and "
        "WINSORIZED mean of o_totalprice (cents) per order priority - "
        "the outlier-resistant aggregates a metrics pipeline publishes "
        "next to the raw mean (complements q188's MAD flags with "
        "robust CENTERS).  Scale shape: aggregate to (group, value) "
        "counts FIRST (one map-side-combined hash exchange), then the "
        "trim window is pure rank-interval arithmetic over the "
        "aggregated frame: each distinct value occupies positions "
        "(cum_prev, cum], its kept multiplicity is the overlap with "
        "(lo, n-lo], and the winsorized tails fold in as lo*min_kept + "
        "lo*max_kept - no per-row ranks, value-exact regardless of "
        "tie order.  Integer sums until two final divisions.",
    tags=("statistics", "agg", "governance"),
)
def q243(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = ensure_min_partitions(load_table(spark, sf_dir, "orders"))
    g = (
        o.select(
            F.col("o_orderpriority").alias("pr"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint").alias("cents"),
        )
        .groupBy("pr", "cents")
        .agg(F.count("*").cast("bigint").alias("cv"))
    )
    wcum = (
        Window.partitionBy("pr").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("pr")
    c = g.select(
        "pr", "cents", "cv",
        F.sum("cv").over(wcum).cast("bigint").alias("cum"),
        F.sum("cv").over(wtot).cast("bigint").alias("n"),
    )
    b = c.select(
        "*",
        F.floor(F.col("n") * _Q243_TRIM_BPS / 10000).cast("bigint")
        .alias("lo"),
        (F.col("cum") - F.col("cv")).cast("bigint").alias("cum_prev"),
    )
    kc = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cum"), F.col("n") - F.col("lo"))
        - F.greatest(F.col("cum_prev"), F.col("lo")),
    )
    k = b.select("pr", "cents", "n", "lo", kc.alias("kc"))
    s = k.groupBy("pr").agg(
        F.first("n").alias("n"),
        F.first("lo").alias("lo"),
        F.sum(F.col("cents") * F.col("kc")).cast("bigint")
        .alias("sum_kept"),
        F.sum("kc").cast("bigint").alias("cnt_kept"),
        F.min(F.when(F.col("kc") > 0, F.col("cents"))).cast("bigint")
        .alias("min_kept"),
        F.max(F.when(F.col("kc") > 0, F.col("cents"))).cast("bigint")
        .alias("max_kept"),
    )
    return (
        s.select(
            F.col("pr").alias("o_orderpriority"), "n",
            stable_round(
                F.col("sum_kept").cast("double") / F.col("cnt_kept"), 4)
            .alias("trimmed_mean_cents"),
            stable_round(
                (F.col("sum_kept") + F.col("lo") * F.col("min_kept")
                 + F.col("lo") * F.col("max_kept")).cast("double")
                / F.col("n"), 4).alias("winsor_mean_cents"),
        )
        .orderBy("o_orderpriority")
    )

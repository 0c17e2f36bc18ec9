"""Q103–Q105, Q110–Q111: corpus-shaping operators for a pre-training
data pipeline — n-gram decontamination, repetition filtering,
deterministic shuffling/sharding, balanced subsampling, curriculum
phase assignment.

The reference carries these workloads only as opaque SQL relayed to its
backends (/root/reference/gateway/relay.go:47-66); this module is
driver-mandated LLM-pipeline capability (SURVEY.md §2B-ext), built as
pure DataFrame transforms so Catalyst/AQE own the physical plan.

Scale design notes (100 TB):

* q103 carries 16-hex-char gram *hashes* through every join and shuffle,
  never gram strings (13 words ≈ 100 B vs 16 B — a 6× shuffle cut), and
  the benchmark side of the semi-join is broadcast (benchmark suites are
  MBs; corpora are TBs).  Spark's runtime row-level bloom filtering
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default in
  the engine session) injects a ``bloom_filter_agg``/``might_contain``
  prefilter into exactly this join shape when the build side is
  selective, so the scan discards non-candidate grams before the
  exchange — the manual "bloom prefilter then exact join" pattern, owned
  by the optimizer instead of hand-rolled.
* q104 is explode → two partial-aggregated groupBys keyed by doc_id;
  both aggregations combine map-side, so the exchanges carry one row per
  (doc, distinct bigram) and one per doc respectively — never raw text.
* q105's shard assignment is a pure hash of the row key (stable across
  partitionings, engines, and reruns — no seed drift, see
  operators/sampling.py); the only shuffle is the per-shard window, and
  shards are explicitly sized (corpus/n_shards) so no window partition
  exceeds an executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.operators import dedup
from tidb_gateway_spark.operators.dedup import (
    DDB_BANDS,
    DDB_CAND_CHAIN,
    DDB_SHINGLES,
    DDB_SIGS,
    DDB_SIMHASH_FLIPS,
    DDB_SIMHASH_SIGS,
)
from tidb_gateway_spark.operators.localrel import local_rows_df
from tidb_gateway_spark.operators.sampling import (
    ddb_hash_bps,
    ddb_hex_int,
    ddb_salted_md5,
    hex_int,
    salted_md5,
)
from tidb_gateway_spark.operators.sketch import ddb_hex_frac
from tidb_gateway_spark.operators.text import DDB_QSCORE
from tidb_gateway_spark.queries.registry import register

# ---------------------------------------------------------------- Q103
_NGRAM_N = 13          # industry-standard decontamination gram width
_BENCH_MAX_ID = 10     # fixture stand-in for the benchmark set

# DuckDB word-13-gram construction mirroring operators/dedup.py
# doc_shingles(n=13): docs shorter than n contribute their whole text.
_DDB_WL = (
    "wl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wl "
    "FROM documents)"
)
_DDB_G13 = (
    "grams AS (SELECT DISTINCT doc_id, w FROM ("
    "SELECT doc_id, UNNEST(CASE WHEN len(wl) >= 13 THEN "
    "list_transform(range(1, len(wl) - 11), i -> array_to_string(wl[i:i+12], ' ')) "
    "ELSE [array_to_string(wl, ' ')] END) AS w FROM wl))"
)
_Q103_ORACLE = (
    f"WITH {_DDB_WL}, {_DDB_G13}, "
    "gh AS (SELECT doc_id, substr(md5(w), 1, 16) AS gh FROM grams), "
    f"bench AS (SELECT DISTINCT gh FROM gh WHERE doc_id < {_BENCH_MAX_ID}), "
    f"corpus AS (SELECT doc_id, gh FROM gh WHERE doc_id >= {_BENCH_MAX_ID}), "
    "per AS (SELECT c.doc_id, COUNT(*) AS t, "
    "COUNT(*) FILTER (WHERE b.gh IS NOT NULL) AS m "
    "FROM corpus c LEFT JOIN bench b USING (gh) GROUP BY c.doc_id) "
    "SELECT CAST((m * 10) // t AS INT) AS bucket, COUNT(*) AS nd, "
    "CAST(SUM(m) AS BIGINT) AS hits FROM per GROUP BY 1 ORDER BY bucket"
)


@register(
    "q103_ngram_decontamination",
    _Q103_ORACLE,
    doc="13-gram eval-set decontamination: per-document fraction of "
        "word 13-grams shared with a benchmark set (doc_id < 10), "
        "bucketed to deciles by integer arithmetic. Joins carry 16-hex "
        "md5 gram hashes, never gram text; the benchmark side is "
        "broadcast and Spark's runtime bloom-filter injection prefilters "
        "the probe scan. The per-doc fraction (not q91's boolean "
        "any-overlap) is what real decontamination thresholds on.",
    tags=("dedup", "llm", "text"),
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # hash BEFORE the per-doc distinct: a 13-gram is ~110 B of text and
    # the 16-hex hash is 16 B, so deduping on (doc_id, gh) instead of
    # (doc_id, gram) cuts the distinct's shuffle ~5× — the exchange
    # stays the reuse point for all three consumers (bench, semi-join
    # probe, per-doc totals).  Measured 44 s → 7.4 s at sf10 (and the
    # 25× sf1→sf10 growth outlier becomes ~4×, i.e. sub-linear).
    grams = (
        dedup.doc_shingles(d, n=_NGRAM_N, distinct=False)
        .select("doc_id", F.substring(F.md5("w"), 1, 16).alias("gh"))
        .distinct()
    )
    bench = (
        grams.filter(F.col("doc_id") < _BENCH_MAX_ID).select("gh").distinct()
    )
    corpus = grams.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    hits = (
        corpus.join(F.broadcast(bench), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("m"))
    )
    per = (
        corpus.groupBy("doc_id")
        .agg(F.count("*").alias("t"))
        .join(hits, "doc_id", "left")
        .fillna(0, ["m"])
    )
    return (
        per.groupBy(F.expr("CAST((m * 10) DIV t AS INT)").alias("bucket"))
        .agg(F.count("*").alias("nd"), F.sum("m").alias("hits"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q104
_DDB_BG = (
    "bg AS (SELECT doc_id, UNNEST(CASE WHEN len(wl) >= 2 THEN "
    "list_transform(range(1, len(wl)), i -> wl[i] || ' ' || wl[i+1]) "
    "ELSE [array_to_string(wl, ' ')] END) AS w FROM wl)"
)
_Q104_ORACLE = (
    f"WITH {_DDB_WL}, {_DDB_BG}, "
    "cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM bg GROUP BY 1, 2), "
    "per AS (SELECT doc_id, MAX(c) AS m, SUM(c) AS t FROM cnt GROUP BY 1) "
    "SELECT CAST((m * 10) // t AS INT) AS bucket, COUNT(*) AS nd "
    "FROM per GROUP BY 1 ORDER BY bucket"
)


@register(
    "q104_top_ngram_fraction",
    _Q104_ORACLE,
    doc="Gopher-style repetition filter signal: the occurrence fraction "
        "of each document's most frequent word bigram, bucketed to a "
        "decile by integer arithmetic (the char-coverage variant of the "
        "published filter needs only a length weight on the same plan). "
        "High buckets mark boilerplate/keyword-stuffing documents.",
    tags=("text", "llm"),
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bigrams = dedup.doc_shingles(d, n=2, distinct=False)
    per = (
        bigrams.groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("m"), F.sum("c").alias("t"))
    )
    return (
        per.groupBy(F.expr("CAST((m * 10) DIV t AS INT)").alias("bucket"))
        .agg(F.count("*").alias("nd"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q105
_N_SHARDS = 8
_DDB_SHUF_KEY = ddb_salted_md5("doc_id", "shuf")
_Q105_ORACLE = (
    f"WITH s AS (SELECT doc_id, n_chars, {_DDB_SHUF_KEY} AS k, "
    f"CAST({ddb_hex_int(_DDB_SHUF_KEY, 1, 8)} % {_N_SHARDS} AS INT) AS shard "
    "FROM documents), "
    "p AS (SELECT shard, doc_id, n_chars, "
    "ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos FROM s) "
    "SELECT shard, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars, "
    "CAST(SUM(pos * doc_id) AS BIGINT) AS ordsum "
    "FROM p GROUP BY shard ORDER BY shard"
)


@register(
    "q105_training_shuffle_shards",
    _Q105_ORACLE,
    doc="Deterministic global shuffle for training-data ordering: every "
        "document gets a hash shard and an exact position within it "
        "(row_number over md5 order), verified by an order-sensitive "
        "checksum sum(pos*doc_id) per shard. Hash-keyed ordering is "
        "stable across partitionings and engines — df.orderBy(rand()) "
        "is not reproducible; this is. One window shuffle keyed by "
        "shard; shard count is chosen so a shard fits an executor.",
    tags=("llm", "sampling"),
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k = salted_md5(F.col("doc_id"), "shuf")
    shard = (hex_int(k, 1, 8) % _N_SHARDS).cast("int")
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    p = (
        d.select("doc_id", "n_chars", k.alias("k"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
    )
    return (
        p.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("ordsum"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------- Q110
_KPS = 40
_Q110_ORACLE = (
    "WITH r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang "
    f"ORDER BY {ddb_salted_md5('doc_id', 'kps')}, doc_id) AS rn "
    "FROM documents) "
    f"SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS ids "
    f"FROM r WHERE rn <= {_KPS} GROUP BY lang ORDER BY lang"
)


@register(
    "q110_balanced_sample_per_stratum",
    _Q110_ORACLE,
    doc="Balanced subsample: exactly min(k, n) documents per language by "
        "hashed-doc_id order (operators/sampling.py:k_per_stratum) — the "
        "deterministic per-group reservoir replacement a data recipe "
        "uses to equalize stratum sizes. Verified by the selected-id "
        "checksum, so the exact selection (not just the count) is "
        "cross-engine identical.",
    tags=("llm", "sampling"),
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    picked = sampling.k_per_stratum(d, "doc_id", "lang", _KPS)
    return (
        picked.groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("doc_id").alias("ids"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q111
@register(
    "q111_curriculum_quartiles",
    f"WITH q AS (SELECT lang, doc_id, ({DDB_QSCORE}) AS qs FROM documents), "
    "p AS (SELECT lang, qs, CAST(NTILE(4) OVER (PARTITION BY lang "
    "ORDER BY qs, doc_id) AS INT) AS phase FROM q) "
    "SELECT lang, phase, COUNT(*) AS n, "
    "FLOOR(AVG(qs) * 10000 + 0.5) / 10000 AS aq "
    "FROM p GROUP BY lang, phase ORDER BY lang, phase",
    doc="Curriculum phase assignment: per-language quality quartiles via "
        "ntile(4) over (qscore, doc_id) — the ordering step of quality-"
        "staged training (feed phase 4 last). Partitioned window, no "
        "global sort; ntile agreement with DuckDB is the q37 contract "
        "applied per stratum.",
    tags=("llm", "text", "window"),
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from tidb_gateway_spark.functions import stable_round
    from tidb_gateway_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    qs = text_ops.quality_score(F.col("text"), F.col("n_chars"))
    w = Window.partitionBy("lang").orderBy(qs.asc(), F.col("doc_id"))
    return (
        d.withColumn("phase", F.ntile(4).over(w))
        .groupBy("lang", "phase")
        .agg(
            F.count("*").alias("n"),
            stable_round(F.avg(qs), 4).alias("aq"),
        )
        .orderBy("lang", "phase")
    )


# ---------------------------------------------------------------- Q112
_RU_LO, _RU_HI = "2024-01-05", "2024-01-09"
_Q112_ORACLE = (
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sv_cents "
    "FROM events "
    f"WHERE CAST(ts AS DATE) BETWEEN DATE '{_RU_LO}' AND DATE '{_RU_HI}' "
    "GROUP BY event_type ORDER BY event_type"
)


@register(
    "q112_hypertable_rollup",
    _Q112_ORACLE,
    doc="Hypertable continuous aggregate: a 5-day per-type stats query "
        "served from the materialized HOURLY rollup "
        "(operators/rollup.py, day-partitioned, mtime-keyed) instead of "
        "raw events — re-aggregation is bit-exact because the rollup "
        "stores counts and integer-cents sums. The oracle computes from "
        "raw events, proving the rollup lossless; the plan prunes to "
        "the queried day partitions (tests/test_plans.py).",
    tags=("agg", "rollup", "timeseries"),
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.rollup import hourly_rollup

    r = hourly_rollup(spark, sf_dir)
    return (
        r.filter(F.col("day").between(_RU_LO, _RU_HI))
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum("sv_cents").alias("sv_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q113
_KMV_K = 256
_Q113_ORACLE = (
    "WITH h AS (SELECT DISTINCT md5(w) AS h FROM "
    "(SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) "
    "WHERE w <> ''), "
    f"kmin AS (SELECT h FROM h ORDER BY h LIMIT {_KMV_K}), "
    "agg AS (SELECT COUNT(*) AS k_used, MAX(h) AS kth, "
    "(COUNT(*) - 1) * 1.0 / "
    + ddb_hex_frac("MAX(h)")
    + " AS est_raw FROM kmin) "
    "SELECT k_used, kth, CAST(FLOOR(est_raw + 0.5) AS BIGINT) AS est, "
    "(SELECT COUNT(DISTINCT w) FROM "
    "(SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) "
    "WHERE w <> '') AS exact FROM agg"
)


@register(
    "q113_kmv_distinct_sketch",
    _Q113_ORACLE,
    doc="Deterministic KMV distinct-count sketch over the corpus "
        "vocabulary (operators/sketch.py): the k smallest md5(token) "
        "values estimate |vocab| as (k-1)/U — chosen over HLL because "
        "engine-specific HLL registers would cap the check at rows-only, "
        "while KMV's sketch AND estimate hash-match at value level; the "
        "exact count sits in the same row so the estimator error is "
        "auditable. Per-partition TopK + k-hash merge = sketch union.",
    tags=("llm", "sketch", "agg"),
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist
    from tidb_gateway_spark.operators.sketch import kmv_sketch

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    # ONE tokenize + ONE partial-combined distinct exchange builds the
    # vocabulary; both the sketch and the exact audit count ride the
    # persisted |vocab|-sized frame (the naive form exploded and
    # shuffled the corpus-sized token stream twice — once for the
    # sketch's distinct, once for countDistinct).
    vocab = tracked_persist(words.distinct())
    sk = kmv_sketch(vocab, "w", _KMV_K)
    exact = vocab.agg(F.count("*").cast("bigint").alias("exact"))
    return sk.crossJoin(exact)


# ---------------------------------------------------------------- Q114
_Q114_ORACLE = (
    f"WITH {DDB_SIMHASH_SIGS}, "
    f"probes AS (SELECT doc_id, UNNEST(list_append({DDB_SIMHASH_FLIPS}, sh)) AS p "
    "FROM sh), "
    "pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM probes x "
    "JOIN sh y ON x.p = y.sh AND x.doc_id < y.doc_id) "
    "SELECT COUNT(*) AS pairs, COUNT(DISTINCT a) AS nda, "
    "CAST(SUM(a) + SUM(b) AS BIGINT) AS ck FROM pairs"
)


@register(
    "q114_simhash_multiprobe_pairs",
    _Q114_ORACLE,
    doc="SimHash multi-probe near-dup matching (Hamming ≤ 1): each doc "
        "probes with its signature plus all 1-bit flips, so the "
        "equi-join IS the distance predicate — no verify pass, no "
        "false positives (operators/dedup.py:simhash_multiprobe_pairs); "
        "the oracle mirrors the same probe join (an all-pairs bit-diff "
        "would be O(n²)). Declared output is the pair-set AGGREGATE "
        "(count + id checksum): at 16 bits a 500k-doc corpus yields "
        "~18M collision pairs, and materializing a quadratically-"
        "growing pair list is the anti-pattern — production uses "
        "64-bit signatures (same plan, 4x the bit aggregates) and "
        "feeds pairs straight to the verify/cluster stages.",
    tags=("dedup", "llm", "simhash"),
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_multiprobe_pairs(d)
    return pairs.agg(
        F.count("*").alias("pairs"),
        F.countDistinct("a").alias("nda"),
        (F.sum("a") + F.sum("b")).alias("ck"),
    )


# ---------------------------------------------------------------- Q115
# Snapshot split: hash_bps(doc_id, "snap") < 5000 = snapshot A, else B
# (stands in for two ingest snapshots of the same pipeline).
@register(
    "q115_distribution_drift_psi",
    "WITH q AS (SELECT doc_id, "
    f"LEAST(9, CAST(FLOOR(({DDB_QSCORE}) * 10) AS INT)) AS bucket, "
    f"(CASE WHEN {ddb_hash_bps('doc_id', 'snap')} < 5000 THEN 1 ELSE 0 END) AS in_a "
    "FROM documents), "
    "per AS (SELECT bucket, SUM(in_a) AS ca, SUM(1 - in_a) AS cb "
    "FROM q GROUP BY bucket), "
    "tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS k FROM per) "
    "SELECT bucket, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb, "
    "FLOOR((((ca + 1) * 1.0 / (na + k)) - ((cb + 1) * 1.0 / (nb + k))) "
    "* ln(((ca + 1) * 1.0 / (na + k)) / ((cb + 1) * 1.0 / (nb + k))) "
    "* 1000000 + 0.5) / 1000000 AS psi_term "
    "FROM per CROSS JOIN tot ORDER BY bucket",
    doc="Data-quality drift check: Population Stability Index of the "
        "quality-score distribution between two deterministic snapshot "
        "halves, per decile bucket with Laplace(+1) smoothing. The "
        "monitoring gate a production pipeline runs between ingest "
        "snapshots (PSI > 0.2 = investigate). Two partial-aggregated "
        "scans folded into one via conditional aggregation — one scan, "
        "one 10-row shuffle; ln() agreement is protected by 6-dp "
        "stable rounding.",
    tags=("llm", "text", "quality"),
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.functions import stable_round
    from tidb_gateway_spark.operators import sampling
    from tidb_gateway_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    qs = text_ops.quality_score(F.col("text"), F.col("n_chars"))
    bucket = F.least(F.lit(9), F.floor(qs * 10)).cast("int")
    in_a = sampling.hash_bps(F.col("doc_id"), "snap") < 5000
    per = (
        d.select(bucket.alias("bucket"), in_a.alias("in_a"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("cb"),
        )
    )
    tot = per.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count("*").alias("k"))
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("k"))
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("k"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket", "ca", "cb",
            stable_round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q116
# The full pre-training data recipe as ONE declared query, composed
# from the operator library: quality filter → exact dedup (keep lowest
# doc_id per content hash) → dedup.SHINGLE_N-word shingle
# decontamination against the benchmark set (the oracle shares the
# MinHash family's shingle CTE) → per-language mixture resampling.
# Demonstrates that
# the stages compose as lazy DataFrame transforms — Catalyst plans the
# whole recipe as one job graph (shared scans, pushed filters), which
# is how a real pipeline runs it: one pass over the corpus per shuffle
# stage, not one pass per tool.
_RECIPE_RATES = {"en": 5000}  # en halved; other languages kept in full
_Q116_ORACLE = (
    "WITH "
    f"q AS (SELECT *, ({DDB_QSCORE}) AS qs FROM documents), "
    "kept AS (SELECT * FROM q WHERE qs >= 0.5), "
    "uniq AS (SELECT * FROM kept WHERE doc_id IN ("
    "SELECT MIN(doc_id) FROM kept GROUP BY md5(text))), "
    f"{DDB_SHINGLES}, "
    "bench AS (SELECT DISTINCT w FROM shingles WHERE doc_id < 10), "
    "contaminated AS (SELECT DISTINCT s.doc_id FROM shingles s "
    "JOIN bench b ON s.w = b.w WHERE s.doc_id >= 10), "
    "clean AS (SELECT * FROM uniq WHERE doc_id >= 10 AND doc_id NOT IN "
    "(SELECT doc_id FROM contaminated)), "
    "mixed AS (SELECT * FROM clean WHERE "
    f"{ddb_hash_bps('doc_id', 'mix')} < "
    "(CASE lang WHEN 'en' THEN 5000 ELSE 10000 END)) "
    "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars, "
    "CAST(SUM(doc_id) AS BIGINT) AS ck FROM mixed GROUP BY lang ORDER BY lang"
)


@register(
    "q116_full_data_recipe",
    _Q116_ORACLE,
    doc="The complete pre-training data recipe as one declared query: "
        "quality filter (qscore >= 0.5) → exact dedup (min doc_id per "
        "content hash) → shingle decontamination vs the benchmark set → "
        "per-language mixture resampling — each stage an operator this "
        "library already certifies alone (q78/q61/q91/q97), composed "
        "lazily so Catalyst plans the whole recipe as one job graph. "
        "The selected-id checksum pins the exact surviving set.",
    tags=("llm", "pipeline", "dedup", "sampling"),
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling
    from tidb_gateway_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    qs = text_ops.quality_score(F.col("text"), F.col("n_chars"))
    kept = d.filter(qs >= 0.5)
    uniq = dedup.keep_first(kept, F.md5("text"), "doc_id")
    # decontamination shingles come from ALL documents (benchmark sets
    # are not quality-filtered; extra contaminated ids outside `uniq`
    # are no-ops in the anti join)
    shingles = dedup.doc_shingles(d.select("doc_id", "text"))
    bench = shingles.filter(F.col("doc_id") < 10).select("w").distinct()
    contaminated = (
        shingles.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "w", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = (
        uniq.filter(F.col("doc_id") >= 10)
        .join(contaminated, "doc_id", "left_anti")
    )
    mixed = sampling.mixture_resample(clean, "doc_id", "lang", _RECIPE_RATES)
    return (
        mixed.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.sum("doc_id").alias("ck"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q122
_Q122_ORACLE = (
    "WITH wl AS (SELECT source, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS wl "
    "FROM documents), "
    "per AS (SELECT source, len(wl) AS tw, len(list_distinct(wl)) AS dw, "
    "list_sum(list_transform(wl, x -> len(x))) AS cl "
    "FROM wl WHERE len(wl) > 0) "
    # cl = Σ word lengths ≡ len(replace(text,' ','')) — kept as the
    # list form here for clarity; the Spark side uses the translate
    # identity because it is whole-stage-codegen'd (HOF aggregate is
    # interpreted row-at-a-time on the JVM).

    "SELECT source, COUNT(*) AS nd, "
    "FLOOR(AVG(dw*1.0/tw)*10000 + 0.5)/10000 AS att, "
    "FLOOR(AVG(cl*1.0/tw)*10000 + 0.5)/10000 AS amw, "
    "CAST(SUM(CASE WHEN dw*1.0/tw < 0.5 OR cl*1.0/tw < 3 "
    "OR cl*1.0/tw > 10 THEN 1 ELSE 0 END) AS BIGINT) AS flagged "
    "FROM per GROUP BY source ORDER BY source"
)


@register(
    "q122_ttr_quality_battery",
    _Q122_ORACLE,
    doc="Gopher-style lexical-quality battery per source: type-token "
        "ratio (distinct/total words) and mean word length per document, "
        "then per-source averages and a flagged count (TTR < 0.5 or mean "
        "word length outside [3,10] — the published repetition/garbage "
        "heuristics). Entirely codegen'd array ops (split/array_distinct/"
        "aggregate) in ONE scan — no explode, no shuffle until the "
        "per-source aggregate (map-side combined, |sources| rows).",
    tags=("text", "llm", "quality"),
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # HOF-free tokens (text.nonempty_words): split(trim, ' +') stays in
    # whole-stage codegen where higher-order filter() is interpreted —
    # measured 3.8 s → codegen class at sf1.  The trim != '' filter is
    # the blank-doc guard (≡ the old tw > 0: blank text would mis-count
    # as the one-element ['']).
    words = F.split(F.trim(F.col("text")), " +")
    # Σ word lengths = length(concat_ws('', words)): reuses the SAME
    # split via codegen subexpression elimination, so it is ~free on
    # top of tw/dw — r8 sweep: the previous translate(text,' ','')
    # re-scanned the raw text for +0.47 s of the 1.75 s total at sf1
    # (best-of-5 idle, BASELINE.md "Skeleton floors"), and translate is only
    # Σ-word-lengths when spaces are the sole separator; concat_ws is
    # the definition itself.  1.75 s → 0.97 s = 1.17× DuckDB.
    d = d.filter(F.trim(F.col("text")) != "").select(
        "source",
        F.size(words).alias("tw"),
        F.size(F.array_distinct(words)).alias("dw"),
        F.length(F.concat_ws("", words)).alias("cl"),
    )
    ttr = F.col("dw") / F.col("tw")
    mwl = F.col("cl") / F.col("tw")
    from tidb_gateway_spark.functions import stable_round

    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("nd"),
            stable_round(F.avg(ttr), 4).alias("att"),
            stable_round(F.avg(mwl), 4).alias("amw"),
            F.sum(
                ((ttr < 0.5) | (mwl < 3) | (mwl > 10)).cast("long")
            ).alias("flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q151
_Q151_T = 2.0
_Q151_ORACLE = (
    # recompute the tempered rates in SQL: rate_s ∝ (n_s^(1/T)) / n_s,
    # normalized to max=10000, floor(x+0.5), min 1 — then the same
    # md5-basis-point keep rule as q97's oracle.
    "WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang), "
    f"raw AS (SELECT lang, n, POW(n, 1.0/{_Q151_T}) / n AS r FROM cnt), "
    "mx AS (SELECT MAX(r) AS m FROM raw), "
    "rates AS (SELECT lang, n, GREATEST(1, CAST(FLOOR(r / m * 10000 + 0.5) "
    "AS BIGINT)) AS bps FROM raw, mx), "
    "kept AS (SELECT d.lang, COUNT(*) AS k FROM documents d "
    "JOIN rates t ON t.lang = d.lang "
    f"WHERE {ddb_hash_bps('d.doc_id', 'mixT')} < t.bps GROUP BY d.lang) "
    "SELECT r.lang, CAST(r.n AS BIGINT) AS total, "
    "CAST(r.bps AS BIGINT) AS bps, CAST(COALESCE(k.k, 0) AS BIGINT) AS kept "
    "FROM rates r LEFT JOIN kept k ON k.lang = r.lang ORDER BY r.lang"
)


@register(
    "q151_temperature_mixture",
    _Q151_ORACLE,
    doc="Temperature-scaled mixture sampling (the multilingual p_i ∝ "
        "n_i^(1/T) rule, T=2): per-language keep rates derived from "
        "observed counts (operators/sampling.py:temperature_rates_bps "
        "— |strata|-sized driver math, floor(x+0.5) for cross-engine "
        "rounding), applied via the q97 deterministic hash-keep rule. "
        "Rare languages keep more, dominant ones downsample — the "
        "data-recipe rebalancing step. Two scans (count, filter), zero "
        "joins on the data path; the rates map is a literal expression.",
    tags=("sampling", "llm", "mixture"),
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.sampling import (
        mixture_keep, temperature_rates_bps)

    d = load_table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }  # sanctioned collect: |languages| rows
    rates = temperature_rates_bps(counts, T=_Q151_T)
    kept = (
        d.filter(mixture_keep(F.col("doc_id"), F.col("lang"), rates,
                              salt="mixT"))
        .groupBy("lang").agg(F.count("*").alias("kept"))
    )
    totals = local_rows_df(
        spark,
        [(lang, counts[lang], rates[lang]) for lang in sorted(counts)],
        "lang string, total long, bps long")
    return (
        totals.join(F.broadcast(kept), "lang", "left")
        .select("lang", "total", "bps",
                F.coalesce("kept", F.lit(0)).alias("kept"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q152
_Q152_ORACLE = (
    f"WITH {_DDB_WL}, "
    "uni AS (SELECT w1, COUNT(*) AS c1 FROM "
    "(SELECT UNNEST(wl) AS w1 FROM wl) GROUP BY w1), "
    "vocab AS (SELECT COUNT(*) AS v FROM uni), "
    f"{_DDB_BG}, "
    "bgc AS (SELECT w, COUNT(*) AS c12 FROM bg GROUP BY w), "
    "scored AS (SELECT b.doc_id, "
    "LN((bgc.c12 + 1.0) / (uni.c1 + vocab.v)) AS lp "
    "FROM bg b JOIN bgc ON bgc.w = b.w "
    "JOIN uni ON uni.w1 = string_split(b.w, ' ')[1], vocab), "
    "per AS (SELECT doc_id, AVG(lp) AS alp FROM scored GROUP BY doc_id) "
    "SELECT CAST(FLOOR(alp) AS INT) AS bucket, COUNT(*) AS nd "
    "FROM per GROUP BY 1 ORDER BY bucket"
)


@register(
    "q152_bigram_lm_score",
    _Q152_ORACLE,
    doc="Bigram language-model quality scoring (the CCNet/KenLM "
        "perplexity-filter shape): corpus-trained add-1-smoothed "
        "bigram logprobs ln((c12+1)/(c1+V)), averaged per document, "
        "histogrammed by integer bucket — low buckets mark "
        "out-of-distribution/garbage text. The model IS an aggregate "
        "of the corpus (bigram + unigram counts, vocabulary-sized "
        "shuffles like q99/q100); scoring joins each doc's bigram "
        "stream to the counts — at scale the model tables are "
        "broadcast-sized and the scoring join never shuffles the "
        "corpus twice.",
    tags=("text", "llm", "quality"),
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist

    d = load_table(spark, sf_dir, "documents")
    bigrams = dedup.doc_shingles(d, n=2, distinct=False)
    words = dedup.doc_shingles(d, n=1, distinct=False)
    # uni feeds two consumers (the vocab scalar and the broadcast
    # lookup); unpersisted, each re-ran the words explode+aggregate
    # over the corpus (the q100 diamond lesson).  |vocab|-sized.
    uni = tracked_persist(words.groupBy(F.col("w").alias("w1")).agg(
        F.count("*").alias("c1")))
    vocab = uni.agg(F.count("*").alias("v"))
    bgc = bigrams.groupBy("w").agg(F.count("*").alias("c12"))
    scored = (
        bigrams
        .join(F.broadcast(bgc), "w")
        .withColumn("w1", F.split(F.col("w"), " ")[0])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1.0)
                  / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    per = scored.groupBy("doc_id").agg(F.avg("lp").alias("alp"))
    return (
        per.groupBy(F.floor("alp").cast("int").alias("bucket"))
        .agg(F.count("*").alias("nd"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q156
_Q156_ORACLE = (
    f"WITH s AS (SELECT doc_id, lang, ({DDB_QSCORE}) AS q, "
    f"{ddb_hash_bps('doc_id', 'softq')} AS h FROM documents) "
    "SELECT lang, COUNT(*) AS total, "
    "CAST(COUNT(*) FILTER (WHERE h < CAST(FLOOR(q * 10000 + 0.5) "
    "AS BIGINT)) AS BIGINT) AS kept "
    "FROM s GROUP BY lang ORDER BY lang"
)


@register(
    "q156_soft_quality_sampling",
    _Q156_ORACLE,
    doc="Soft quality-weighted sampling (the FineWeb-style 'keep with "
        "probability ∝ quality' filter, replacing hard thresholds): "
        "each document keeps iff hash_bps(doc_id) < quality×10000 — "
        "higher-quality docs survive proportionally more often, "
        "deterministically (pure row function, no seed drift, same "
        "guarantees as q82/q97). Per-language kept-vs-total audit in "
        "the SAME single scan that makes the decision.",
    tags=("sampling", "llm", "quality"),
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import text as text_ops
    from tidb_gateway_spark.operators.sampling import hash_bps

    d = load_table(spark, sf_dir, "documents")
    q = text_ops.quality_score(F.col("text"), F.col("n_chars"))
    keep = hash_bps(F.col("doc_id"), "softq") < F.floor(
        q * 10000 + 0.5).cast("bigint")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.sum(keep.cast("long")).alias("kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q157
_Q157_ORACLE = (
    f"WITH r AS (SELECT doc_id, lang, ROW_NUMBER() OVER "
    f"(PARTITION BY lang ORDER BY {ddb_salted_md5('doc_id', 'il')}, doc_id) AS rn "
    "FROM documents), "
    "o AS (SELECT doc_id, lang, ROW_NUMBER() OVER "
    "(ORDER BY rn, lang, doc_id) AS pos FROM r) "
    "SELECT lang, COUNT(*) AS n, "
    "CAST(SUM(pos * doc_id) AS BIGINT) AS ordsum, "
    "CAST(MIN(pos) AS BIGINT) AS first_pos FROM o "
    "GROUP BY lang ORDER BY lang"
)


@register(
    "q157_stratified_interleave",
    _Q157_ORACLE,
    doc="Stratified round-robin interleave for training order: rows "
        "ranked within their language by deterministic hash, then the "
        "global order is (per-stratum rank, stratum) — every "
        "|languages| consecutive examples cover all languages while "
        "each stream stays internally shuffled; the order-sensitive "
        "sum(pos·doc_id) checksum certifies EXACT positions. Mixing "
        "order is a training hyperparameter — reproducibility here is "
        "the point. Two window passes; the global one is the "
        "deliberate total-order (same class as q105's shard windows, "
        "which bound partition width at scale).",
    tags=("sampling", "llm", "ordering"),
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wl = Window.partitionBy("lang").orderBy(
        salted_md5(F.col("doc_id"), "il"), F.col("doc_id"))
    r = d.select("doc_id", "lang", F.row_number().over(wl).alias("rn"))
    wg = Window.orderBy("rn", "lang", "doc_id")
    o = r.select("doc_id", "lang", F.row_number().over(wg).alias("pos"))
    return (
        o.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("ordsum"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q158
_CHUNK, _STRIDE = 200, 150   # 50-char overlap


@register(
    "q158_rag_chunking",
    f"WITH off AS (SELECT doc_id, n_chars, "
    f"UNNEST(range(0, GREATEST(n_chars - ({_CHUNK} - {_STRIDE}), 1), "
    f"{_STRIDE})) AS o FROM documents), "
    f"c AS (SELECT doc_id, o, substr(d.text, CAST(o + 1 AS BIGINT), "
    f"{_CHUNK}) AS chunk FROM off JOIN documents d USING (doc_id)) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS chunks, "
    "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs, "
    "CAST(SUM(length(chunk)) AS BIGINT) AS chars, "
    f"CAST(SUM({ddb_hex_int('md5(chunk)', 1, 8)} "
    "% 1000000007) AS BIGINT) AS ck FROM c",
    doc="RAG document chunking: fixed 200-char windows at stride 150 "
        "(50-char overlap so no retrieval boundary loses context) via "
        "sequence()+explode over offsets + substring — all codegen'd, "
        "no UDF; the md5-based chunk checksum certifies the EXACT "
        "chunk contents, not just counts. This is the retrieval-"
        "indexing edge of the pipeline (chunks would feed the q76/q94 "
        "ANN indexes); one scan, the explode bounded by chars/stride "
        "per doc.",
    tags=("text", "llm", "rag"),
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    offs = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_chars") - (_CHUNK - _STRIDE), F.lit(1))
        - F.lit(1),
        F.lit(_STRIDE),
    )
    c = (
        d.select("doc_id", "text", F.explode(offs).alias("o"))
        .select(
            "doc_id",
            F.substring(
                F.col("text"), F.col("o") + 1, F.lit(_CHUNK)
            ).alias("chunk"),
        )
    )
    ck = hex_int(F.md5("chunk"), 1, 8) % 1000000007
    return c.agg(
        F.count("*").alias("chunks"),
        F.countDistinct("doc_id").alias("docs"),
        F.sum(F.length("chunk")).alias("chars"),
        F.sum(ck).alias("ck"),
    )


# ---------------------------------------------------------------- Q169
_Q169_K = 20


@register(
    "q169_weighted_reservoir",
    # Efraimidis–Spirakis with a DETERMINISTIC uniform: u = (bps+0.5)/1e4
    # from the md5 basis-point hash, key = -ln(u)/w, take k smallest.
    "WITH s AS (SELECT doc_id, "
    f"({ddb_hash_bps('doc_id', 'wres')} + 0.5) / 10000.0 AS u, "
    f"({DDB_QSCORE}) AS w "
    "FROM documents), "
    # quantize the float key to an integer on BOTH engines: libm vs JVM
    # LN can differ in the last ulp, and a raw float ORDER BY near the
    # k-boundary could flip the selection cross-engine
    f"sel AS (SELECT doc_id FROM s "
    f"ORDER BY CAST(FLOOR(-LN(u) / w * 1e12) AS BIGINT), doc_id "
    f"LIMIT {_Q169_K}) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS k, "
    "CAST(SUM(doc_id) AS BIGINT) AS ck, "
    "CAST(MIN(doc_id) AS BIGINT) AS mn, "
    "CAST(MAX(doc_id) AS BIGINT) AS mx FROM sel",
    doc="Weighted sampling WITHOUT replacement (Efraimidis–Spirakis "
        "A-ES): k docs chosen with probability proportional to quality "
        "weight, via key = −ln(u)/w over a DETERMINISTIC uniform (the "
        "md5 basis-point hash — no seed drift, same guarantees as "
        "q82/q156's unweighted samplers). TakeOrdered(k) = per-"
        "partition top-k then a k-row merge — never a global sort; the "
        "selected-id checksum certifies the exact selection. Completes "
        "the sampling family: uniform (q83), stratified (q110), "
        "temperature (q151), soft-quality Bernoulli (q156), weighted "
        "without replacement (this).",
    tags=("sampling", "llm", "weighted"),
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import text as text_ops
    from tidb_gateway_spark.operators.sampling import hash_bps

    d = load_table(spark, sf_dir, "documents")
    u = (hash_bps(F.col("doc_id"), "wres") + 0.5) / 10000.0
    w = text_ops.quality_score(F.col("text"), F.col("n_chars"))
    # integer-quantized key (×1e12, floored): see the oracle note —
    # raw float ordering is ulp-fragile across engines at the k-boundary
    sel = (
        d.select(
            "doc_id",
            F.floor(-F.log(u) / w * 1e12).cast("long").alias("key"),
        )
        .orderBy("key", "doc_id")
        .limit(_Q169_K)
    )
    return sel.agg(
        F.count("*").alias("k"),
        F.sum("doc_id").alias("ck"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    )


# ---------------------------------------------------------------- Q170
@register(
    "q170_period_over_period",
    "WITH wk AS (SELECT epoch_us(ts) // 604800000000 AS w, "
    "COUNT(*) AS n FROM events GROUP BY 1), "
    "r AS (SELECT w, n, LAG(n) OVER (ORDER BY w) AS prev FROM wk) "
    "SELECT CAST(w AS BIGINT) AS w, n, "
    "CAST(prev AS BIGINT) AS prev, "
    "FLOOR(CASE WHEN prev IS NULL THEN NULL "
    "ELSE (n - prev) * 10000.0 / prev END + 0.5)/10000*10000 AS delta_bp "
    "FROM r ORDER BY w",
    doc="Period-over-period comparison (WoW delta in basis points): "
        "weekly event counts with LAG over the |weeks|-sized aggregate "
        "— the reporting idiom behind every growth dashboard. The "
        "window runs on aggregate rows (bounded by calendar weeks, "
        "never the fact table); integer-bp delta avoids float-division "
        "canonicalization issues.",
    tags=("window", "analytics", "reporting"),
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wk = (
        e.groupBy((F.col("ts_us") / (7 * 24 * 3_600_000_000))
                  .cast("long").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    win = Window.orderBy("w")
    r = wk.select("w", "n", F.lag("n").over(win).alias("prev"))
    delta = F.when(
        F.col("prev").isNotNull(),
        F.floor((F.col("n") - F.col("prev")) * 10000.0
                / F.col("prev") + 0.5) / 10000 * 10000,
    )
    return r.select("w", "n", "prev", delta.alias("delta_bp")).orderBy("w")


# ---------------------------------------------------------------- Q197
_Q197_SPLIT_BPS = 9_000  # train share (basis points of the hash space)


def _q197_split_sql(key_expr: str) -> str:
    """train/eval decision from hash_bps(``key_expr``, "csplit")."""
    return (
        f"CASE WHEN {ddb_hash_bps(key_expr, 'csplit')} "
        f"< {_Q197_SPLIT_BPS} THEN 'train' ELSE 'eval' END"
    )


_Q197_ORACLE = (
    f"WITH RECURSIVE {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    f"{DDB_CAND_CHAIN}, "
    "ver AS (SELECT t.a, t.b FROM inter t "
    "JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
    "WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5), "
    "edges AS (SELECT a AS u, b AS v FROM ver UNION SELECT b, a FROM ver), "
    "walk(n, m) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
    "UNION SELECT e.u, w.m FROM edges e JOIN walk w ON w.n = e.v), "
    "cc AS (SELECT n AS doc_id, MIN(m) AS cluster FROM walk GROUP BY n), "
    "cmap AS (SELECT d.doc_id, COALESCE(cc.cluster, d.doc_id) AS cluster "
    "FROM documents d LEFT JOIN cc USING (doc_id)), "
    "assigned AS (SELECT doc_id, cluster, "
    + _q197_split_sql("cluster") + " AS cl_split, "
    + _q197_split_sql("doc_id") + " AS doc_split FROM cmap), "
    "m1 AS (SELECT 'cluster' AS method, "
    "CAST(SUM(CASE WHEN cl_split = 'train' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS train_docs, "
    "CAST(SUM(CASE WHEN cl_split = 'eval' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS eval_docs, "
    "CAST((SELECT COUNT(*) FROM (SELECT cluster FROM assigned "
    "GROUP BY cluster HAVING COUNT(DISTINCT cl_split) > 1)) AS BIGINT) "
    "AS straddling_clusters FROM assigned), "
    "m2 AS (SELECT 'doc' AS method, "
    "CAST(SUM(CASE WHEN doc_split = 'train' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS train_docs, "
    "CAST(SUM(CASE WHEN doc_split = 'eval' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS eval_docs, "
    "CAST((SELECT COUNT(*) FROM (SELECT cluster FROM assigned "
    "GROUP BY cluster HAVING COUNT(DISTINCT doc_split) > 1)) AS BIGINT) "
    "AS straddling_clusters FROM assigned) "
    "SELECT * FROM m1 UNION ALL SELECT * FROM m2 ORDER BY method"
)


@register(
    "q197_cluster_aware_split",
    _Q197_ORACLE,
    doc="Dedup-aware train/eval split — the leakage guard real "
        "pretraining pipelines need: hashing the near-dup CLUSTER "
        "label (q101's connected components; singletons are their own "
        "cluster) assigns every near-duplicate family to ONE side, "
        "provably (straddling_clusters = 0 by construction, and "
        "declared).  The naive doc-hash split is reported alongside "
        "with its nonzero straddle count — the quantified leak.  Same "
        "candidate→verify→CC machinery as q101 plus one broadcast "
        "join of the cluster map; the split decision is a pure row "
        "hash, stable under any repartitioning.",
    tags=("llm", "dedup", "sampling", "governance"),
)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    ver = dedup.near_dup_pairs(d).select("a", "b")
    cc = dedup.connected_components(ver).select(
        "doc_id", F.col("cluster_id").alias("cluster"))
    cmap = (
        d.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
        )
    )
    cl_bps = sampling.hash_bps(F.col("cluster"), "csplit")
    doc_bps = sampling.hash_bps(F.col("doc_id"), "csplit")
    assigned = cmap.select(
        "doc_id", "cluster",
        F.when(cl_bps < _Q197_SPLIT_BPS, "train").otherwise("eval")
        .alias("cl_split"),
        F.when(doc_bps < _Q197_SPLIT_BPS, "train").otherwise("eval")
        .alias("doc_split"),
    )

    def method_row(split_col: str, label: str) -> DataFrame:
        counts = assigned.agg(
            F.sum((F.col(split_col) == "train").cast("long"))
            .alias("train_docs"),
            F.sum((F.col(split_col) == "eval").cast("long"))
            .alias("eval_docs"),
        )
        straddle = (
            assigned.groupBy("cluster")
            .agg(F.countDistinct(split_col).alias("ns"))
            .agg(F.sum((F.col("ns") > 1).cast("long"))
                 .alias("straddling_clusters"))
        )
        return counts.crossJoin(straddle).select(
            F.lit(label).alias("method"),
            "train_docs", "eval_docs", "straddling_clusters",
        )

    return (
        method_row("cl_split", "cluster")
        .unionByName(method_row("doc_split", "doc"))
        .orderBy("method")
    )


# ---------------------------------------------------------------- Q198
_Q198_BUDGET = 50_000  # whitespace-token budget per language


_Q198_ORACLE = (
    "WITH t AS (SELECT doc_id, lang, "
    "len(list_filter(string_split(text, ' '), x -> x <> '')) AS toks, "
    f"{ddb_hash_bps('doc_id', 'budget')} AS bps FROM documents), "
    "r AS (SELECT lang, toks, SUM(toks) OVER (PARTITION BY lang "
    "ORDER BY bps, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "CURRENT ROW) AS cum FROM t) "
    "SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_docs, "
    f"CAST(SUM(CASE WHEN cum <= {_Q198_BUDGET} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS kept_docs, "
    f"CAST(SUM(CASE WHEN cum <= {_Q198_BUDGET} THEN toks ELSE 0 END) "
    "AS BIGINT) AS kept_tokens, "
    f"CAST(SUM(CASE WHEN cum <= {_Q198_BUDGET} THEN toks ELSE 0 END) "
    f"* 10000 // {_Q198_BUDGET} AS BIGINT) AS utilization_bps "
    "FROM r GROUP BY lang ORDER BY lang"
)


@register(
    "q198_token_budget_mixing",
    _Q198_ORACLE,
    doc="Token-budgeted corpus mixing — the data-recipe form that "
        "caps each language at a TOKEN budget instead of a sampling "
        "rate (q97/q151 are the rate forms): docs ordered by a "
        "deterministic per-doc hash (stable under repartitioning, no "
        "seed drift) accumulate whitespace tokens per language until "
        "the budget; the running sum is ONE per-lang window over "
        "integer token counts, so the keep frontier is bit-identical "
        "cross-engine.  Declared output is the per-language audit "
        "(kept docs/tokens, utilization bps).",
    tags=("llm", "sampling", "corpus"),
)
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling, text as text_ops

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang",
        text_ops.ws_token_count(F.col("text")).cast("bigint").alias("toks"),
        sampling.hash_bps(F.col("doc_id"), "budget").alias("bps"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("bps", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = t.select("lang", "toks", F.sum("toks").over(w).alias("cum"))
    kept = F.col("cum") <= _Q198_BUDGET
    return (
        r.groupBy("lang")
        .agg(
            F.count("*").alias("total_docs"),
            F.sum(kept.cast("long")).alias("kept_docs"),
            F.sum(F.when(kept, F.col("toks")).otherwise(F.lit(0)))
            .alias("kept_tokens"),
            F.floor(
                F.sum(F.when(kept, F.col("toks")).otherwise(F.lit(0)))
                * 10000 / _Q198_BUDGET
            ).cast("bigint").alias("utilization_bps"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q270
_Q270_ORACLE = (
    f"WITH {_DDB_WL}, {_DDB_G13}, "
    "gh AS (SELECT doc_id, substr(md5(w), 1, 16) AS gh FROM grams), "
    f"bench AS (SELECT DISTINCT gh FROM gh WHERE doc_id < {_BENCH_MAX_ID}), "
    f"corpus AS (SELECT doc_id, gh FROM gh WHERE doc_id >= {_BENCH_MAX_ID}), "
    # GPT-3 rule: ANY colliding 13-gram removes the document
    "flagged AS (SELECT DISTINCT c.doc_id FROM corpus c "
    "JOIN bench b USING (gh)), "
    "tok AS (SELECT d.doc_id, d.source, "
    "CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) "
    "AS BIGINT) AS nt FROM documents d "
    f"WHERE d.doc_id >= {_BENCH_MAX_ID}) "
    "SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_removed, "
    "CAST(SUM(t.nt) AS BIGINT) AS tok_before, "
    "CAST(SUM(CASE WHEN f.doc_id IS NULL THEN t.nt ELSE 0 END) "
    "AS BIGINT) AS tok_after, "
    "CASE WHEN SUM(t.nt) = 0 THEN 0 ELSE CAST(("
    "SUM(CASE WHEN f.doc_id IS NOT NULL THEN t.nt ELSE 0 END) * 10000"
    ") // SUM(t.nt) AS BIGINT) END AS removed_bps "
    "FROM tok t LEFT JOIN flagged f USING (doc_id) "
    "GROUP BY 1 ORDER BY 1"
)


@register(
    "q270_decontamination_apply",
    _Q270_ORACLE,
    doc="Eval-set decontamination APPLY — the transformation q91/q103 "
        "audit (the GPT-3 appendix-C rule: remove every training "
        "document sharing ANY 13-gram with the benchmark set), closing "
        "the decontamination family's operational loop the way q264 "
        "closed q261's: per-source documents removed, tokens "
        "before/after, and removed_bps.  Same exchange discipline as "
        "q103 — the ONE corpus-scale shuffle carries (doc_id, 16-hex "
        "gram hash) rows (never gram text), the benchmark side is "
        "broadcast into the semi-join with runtime bloom prefiltering, "
        "and the flagged-doc set (contamination-sized, not corpus-"
        "sized) joins back to a single stats scan whose token counts "
        "are row-local arithmetic.  At 100 TB: flagged docs are a tiny "
        "fraction of the corpus, so the join-back broadcasts; if "
        "contamination were ever corpus-scale the same plan degrades "
        "to a shuffled left join with no new exchange shape.",
    tags=("dedup", "llm", "text", "governance"),
)
def q270(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grams = (
        dedup.doc_shingles(d, n=_NGRAM_N, distinct=False)
        .select("doc_id", F.substring(F.md5("w"), 1, 16).alias("gh"))
        .distinct()
    )
    bench = (grams.filter(F.col("doc_id") < _BENCH_MAX_ID)
             .select("gh").distinct())
    corpus = grams.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    flagged = (
        corpus.join(F.broadcast(bench), "gh", "left_semi")
        .select("doc_id").distinct()
        .withColumn("rm", F.lit(1))
    )
    t = F.trim(F.col("text"))
    tok = (
        d.filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .select(
            "doc_id", "source",
            F.when(t != "", F.size(F.split(t, " +")))
            .otherwise(F.lit(0)).cast("bigint").alias("nt"),
        )
    )
    j = tok.join(flagged, "doc_id", "left")
    removed = F.col("rm").isNotNull()
    tok_before = F.sum("nt")
    tok_removed = F.sum(F.when(removed, F.col("nt")).otherwise(F.lit(0)))
    agg = (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(removed.cast("long")).cast("bigint").alias("n_removed"),
            tok_before.cast("bigint").alias("tok_before"),
            (tok_before - tok_removed).cast("bigint").alias("tok_after"),
        )
    )
    # integer DIV, never double division + cast: float rounding could
    # drift one bps off the oracle's floor division
    return agg.select(
        "source", "n_docs", "n_removed", "tok_before", "tok_after",
        F.when(F.col("tok_before") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr(
            "CAST(((tok_before - tok_after) * 10000) DIV tok_before "
            "AS BIGINT)")).alias("removed_bps"),
    ).orderBy("source")

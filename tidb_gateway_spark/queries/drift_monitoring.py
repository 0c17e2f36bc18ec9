"""Q255–Q258: mergeable-sketch auditing and corpus-health drift
monitoring (VERDICT r9 next-round #7).

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q255 (grouped KMV union audit): the mergeable-state twin of q113's
  global sketch.  Per-source KMV sketches are k-smallest-hash sets —
  distributive, so the union of per-source sketches re-sketched IS the
  sketch of the union (k-min of a union = k-min over the k-mins).
  The declared query proves that identity at value level: the
  '__all__' row's estimate is computed FROM THE MERGED per-source
  sketches, while the oracle (and the engine-side property test)
  derives the same row independently — per-partition/per-group sketch
  + driver-free merge is exactly how approx-distinct monitoring runs
  over a 100 TB lake (one vocabulary-sized exchange; the merge input
  is ≤ k·|sources| rows, metadata-sized).
* q256 (dedup-rate drift monitor): composes q235's per-source dedup
  waterfall with q115's PSI across two snapshots.  Snapshots are
  deterministic hash halves (stand-ins for two ingest epochs); per
  (snapshot, source) the exact-hash duplicate rate is 1 −
  distinct(md5(text))/n — digest-only shuffles, corpus scanned once,
  aggregates are |snapshot×source|-sized.  The PSI over the per-source
  duplicate-mass shares flags when one source's clone behavior shifts
  between epochs — the early-warning signal dedup pipelines watch.
* q258 (n-gram novelty drift): the freshness twin of q256 on the same
  hash-half epochs — per source, the fraction of the new epoch's
  distinct 3-grams unseen in the old epoch.  ONE corpus-sized
  exchange (md5 gram digests, never text); the (snp, source, h)
  distinct, both branch distincts, and the membership join all ride
  it via subset clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.cache import tracked_persist
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.sampling import ddb_hash_bps
from tidb_gateway_spark.operators.sketch import ddb_hex_frac, hex_frac
from tidb_gateway_spark.operators.text import (
    ddb_word_rows,
    ddb_words,
    word_count,
    word_rows,
    words,
)
from tidb_gateway_spark.queries.registry import register

# ---------------------------------------------------------------- Q255
_Q255_K = 128

_Q255_ORACLE = (
    # per-source distinct token hashes → per-source k-min sketches;
    # the '__all__' row merges the PER-SOURCE SKETCHES (not the raw
    # vocabulary) — the mergeability identity the audit certifies
    "WITH sw AS (SELECT DISTINCT source, md5(w) AS h FROM ("
    f"{ddb_word_rows('source')})), "
    "ranked AS (SELECT source, h, ROW_NUMBER() OVER ("
    "PARTITION BY source ORDER BY h) AS rn FROM sw), "
    f"kmin AS (SELECT source, h FROM ranked WHERE rn <= {_Q255_K}), "
    "merged AS (SELECT '__all__' AS source, h FROM ("
    "SELECT DISTINCT h FROM kmin ORDER BY h LIMIT " + str(_Q255_K) + ")), "
    "sk AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS k_used, "
    "MAX(h) AS kth, (COUNT(*) - 1) * 1.0 / "
    + ddb_hex_frac("MAX(h)")
    + " AS est_raw "
    "FROM (SELECT * FROM kmin UNION ALL SELECT * FROM merged) "
    "GROUP BY source), "
    "ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact FROM sw "
    "GROUP BY source "
    "UNION ALL SELECT '__all__', CAST(COUNT(DISTINCT h) AS BIGINT) "
    "FROM sw) "
    "SELECT sk.source, k_used, kth, "
    "CAST(FLOOR(est_raw + 0.5) AS BIGINT) AS est, exact, "
    "CAST(FLOOR(ABS(est_raw - exact) * 10000.0 / exact + 0.5) AS BIGINT) "
    "AS err_bps "
    "FROM sk JOIN ex ON sk.source = ex.source ORDER BY sk.source"
)


@register(
    "q255_grouped_kmv_union_audit",
    _Q255_ORACLE,
    doc="Grouped KMV distinct sketches with a UNION-MERGE audit — the "
        "mergeable-state twin of q113: per-source k-smallest-md5 "
        "sketches estimate each source's vocabulary, and the "
        "'__all__' row is computed by MERGING the per-source sketches "
        "(k-min over the union of k-min sets), which the k-min "
        "distributivity theorem makes exactly equal to sketching the "
        "union directly — certified at value level because the oracle "
        "derives the same row independently and the engine-side "
        "property test compares merge vs direct.  ONE tokenize + ONE "
        "(source, w)-distinct exchange; the rank window and the merge "
        "run on the persisted vocabulary-sized frame; the merge input "
        "is ≤ k·|sources| rows.  This is how approx-distinct "
        "monitoring composes over a partitioned 100 TB lake: sketch "
        "per partition/group, merge without touching data again.",
    tags=("llm", "sketch", "agg", "governance"),
)
def q255(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    sw = tracked_persist(
        word_rows(d, "source")
        .select("source", F.md5("w").alias("h"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("source").orderBy("h"))
    kmin = sw.withColumn("rn", rn).filter(F.col("rn") <= _Q255_K).drop("rn")
    merged = (
        kmin.select("h").distinct().orderBy("h").limit(_Q255_K)
        .select(F.lit("__all__").alias("source"), "h")
    )
    est_raw = (
        (F.count("*") - F.lit(1)).cast("double")
        / hex_frac(F.max("h"))
    )
    sk = (
        kmin.unionAll(merged)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("k_used"),
            F.max("h").alias("kth"),
            est_raw.alias("est_raw"),
        )
    )
    ex = (
        sw.groupBy("source").agg(F.count("*").cast("bigint").alias("exact"))
        .unionAll(
            sw.select("h").distinct().agg(
                F.lit("__all__").alias("source"),
                F.count("*").cast("bigint").alias("exact"),
            )
        )
    )
    return (
        sk.join(ex, "source")
        .select(
            "source", "k_used", "kth",
            F.floor(F.col("est_raw") + 0.5).cast("bigint").alias("est"),
            "exact",
            F.floor(
                F.abs(F.col("est_raw") - F.col("exact")) * 10000.0
                / F.col("exact") + 0.5
            ).cast("bigint").alias("err_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q256
_Q256_SNAP_BPS = 5_000  # hash half-split: snapshot A < 5000 <= B

_Q256_ORACLE = (
    "WITH snap AS (SELECT source, "
    f"CASE WHEN {ddb_hash_bps('doc_id', 'snap')} < {_Q256_SNAP_BPS} "
    "THEN 'a' ELSE 'b' END "
    "AS snp, md5(text) AS th FROM documents), "
    "per AS (SELECT source, snp, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) AS dups "
    "FROM snap GROUP BY source, snp), "
    "wide AS (SELECT source, "
    "MAX(CASE WHEN snp = 'a' THEN n END) AS n_a, "
    "MAX(CASE WHEN snp = 'a' THEN dups END) AS dup_a, "
    "MAX(CASE WHEN snp = 'b' THEN n END) AS n_b, "
    "MAX(CASE WHEN snp = 'b' THEN dups END) AS dup_b FROM per "
    "GROUP BY source), "
    "tot AS (SELECT CAST(SUM(n_a) AS DOUBLE) AS ta, "
    "CAST(SUM(n_b) AS DOUBLE) AS tb FROM wide), "
    "shares AS (SELECT source, n_a, dup_a, n_b, dup_b, "
    "n_a / tot.ta AS pa, n_b / tot.tb AS pb FROM wide CROSS JOIN tot), "
    "psi AS (SELECT CAST(SUM((pa - pb) * ln(pa / pb)) AS DOUBLE) AS v "
    "FROM shares) "
    "SELECT source, n_a, "
    "CAST(FLOOR(dup_a * 10000.0 / n_a + 0.5) AS BIGINT) AS dup_a_bps, "
    "n_b, "
    "CAST(FLOOR(dup_b * 10000.0 / n_b + 0.5) AS BIGINT) AS dup_b_bps, "
    "CAST(FLOOR(dup_b * 10000.0 / n_b + 0.5) AS BIGINT) - "
    "CAST(FLOOR(dup_a * 10000.0 / n_a + 0.5) AS BIGINT) AS delta_bps, "
    "FLOOR(psi.v * 1000000 + 0.5) / 1000000 AS mix_psi "
    "FROM shares CROSS JOIN psi ORDER BY source"
)


@register(
    "q256_dedup_rate_drift_monitor",
    _Q256_ORACLE,
    doc="Per-source duplicate-rate drift between two corpus snapshots "
        "(deterministic hash halves standing in for ingest epochs) — "
        "q235's per-source dedup accounting composed with q115's PSI "
        "drift statistic.  Per (snapshot, source): exact-content-hash "
        "duplicate rate in basis points (digest-only shuffle, corpus "
        "scanned ONCE); drift = per-source bps delta plus the PSI of "
        "the source-mix shares between snapshots (flags when one "
        "source's share or clone behavior shifts between epochs).  "
        "All aggregates are |sources×2|-sized after the one exchange; "
        "the PSI runs on the aggregated frame.",
    tags=("llm", "dedup", "governance", "drift"),
)
def q256(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.sampling import hash_bps

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    snp = F.when(
        hash_bps(F.col("doc_id"), "snap") < _Q256_SNAP_BPS, "a"
    ).otherwise("b")
    per = (
        d.select("source", snp.alias("snp"), F.md5("text").alias("th"))
        .groupBy("source", "snp")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (F.count("*") - F.countDistinct("th")).cast("bigint")
            .alias("dups"),
        )
    )
    # |sources|-sized; persisted so the PSI aggregate and the final
    # projection (both downstream of `shares`) share ONE corpus scan.
    wide = tracked_persist(per.groupBy("source").agg(
        F.max(F.when(F.col("snp") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("snp") == "a", F.col("dups"))).alias("dup_a"),
        F.max(F.when(F.col("snp") == "b", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("snp") == "b", F.col("dups"))).alias("dup_b"),
    ))
    tot = wide.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    shares = wide.crossJoin(F.broadcast(tot)).select(
        "source", "n_a", "dup_a", "n_b", "dup_b",
        (F.col("n_a") / F.col("ta")).alias("pa"),
        (F.col("n_b") / F.col("tb")).alias("pb"),
    )
    psi = shares.agg(
        F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")))
        .cast("double").alias("v")
    )
    dup_a_bps = F.floor(
        F.col("dup_a") * 10000.0 / F.col("n_a") + 0.5).cast("bigint")
    dup_b_bps = F.floor(
        F.col("dup_b") * 10000.0 / F.col("n_b") + 0.5).cast("bigint")
    return (
        shares.crossJoin(F.broadcast(psi))
        .select(
            "source", "n_a",
            dup_a_bps.alias("dup_a_bps"),
            "n_b",
            dup_b_bps.alias("dup_b_bps"),
            (dup_b_bps - dup_a_bps).alias("delta_bps"),
            stable_round(F.col("v"), 6).alias("mix_psi"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q258
_Q258_N = 3  # gram width in words

# DuckDB: 3-word grams over the >=3-word docs, md5'd (md5 is the
# cross-engine-identical hash; both engines join on the same 32-hex
# digests, so the novelty counts match bit-for-bit with no
# hash-function divergence to excuse).
_Q258_ORACLE = (
    f"WITH wl AS (SELECT doc_id, source, {ddb_words()} AS wl FROM documents), "
    "g AS (SELECT doc_id, source, "
    f"UNNEST(list_transform(range(1, len(wl) - {_Q258_N - 2}), "
    f"i -> array_to_string(wl[i : i + {_Q258_N - 1}], ' '))) AS gram "
    f"FROM wl WHERE len(wl) >= {_Q258_N}), "
    "s AS (SELECT "
    f"CASE WHEN {ddb_hash_bps('doc_id', 'snap')} < {_Q256_SNAP_BPS} "
    "THEN 'a' ELSE 'b' END AS snp, source, md5(gram) AS h FROM g), "
    "cd AS (SELECT DISTINCT snp, source, h FROM s), "
    "a AS (SELECT DISTINCT h FROM cd WHERE snp = 'a'), "
    "b AS (SELECT source, h FROM cd WHERE snp = 'b'), "
    "nov AS (SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_grams, "
    "CAST(SUM(CASE WHEN a.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS novel FROM b LEFT JOIN a ON a.h = b.h GROUP BY b.source) "
    "SELECT source, n_grams, novel, "
    "CAST(FLOOR(novel * 10000.0 / n_grams + 0.5) AS BIGINT) "
    "AS novelty_bps FROM nov ORDER BY source"
)


@register(
    "q258_ngram_novelty_drift",
    _Q258_ORACLE,
    doc="Cross-snapshot n-gram novelty — the freshness signal a "
        "continuously-ingesting corpus watches (what fraction of the "
        "new epoch's distinct 3-grams were never seen in the old "
        "epoch, per source; a crash toward 0 means the new crawl is "
        "re-serving old content, a spike toward 10000 bps means a "
        "domain shift).  Snapshots are q256's deterministic hash "
        "halves, so the drift family shares one epoch definition.  "
        "ONE corpus-sized exchange: the exploded gram stream is "
        "md5'd (32-hex digests, never text, cross-engine identical) "
        "and repartitioned by h once — the (snp, source, h) distinct "
        "AND the seen-in-old-epoch flag window both ride that "
        "partitioning via subset clustering (the q210 shape: the "
        "window computes set membership in place, so there is no "
        "second distinct, no join, and no gram-set broadcast to "
        "outgrow); the final per-source aggregate is |sources|-sized.",
    tags=("llm", "text", "dedup", "drift"),
)
def q258(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.dedup import _shingle_array_sql
    from tidb_gateway_spark.operators.partitioning import (
        session_parallelism,
    )
    from tidb_gateway_spark.operators.sampling import hash_bps

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    d = d.filter(word_count() >= _Q258_N)
    snp = F.when(
        hash_bps(F.col("doc_id"), "snap") < _Q256_SNAP_BPS, "a"
    ).otherwise("b")
    g = (
        d.select(snp.alias("snp"), "source",
                 words().alias("wlist"))
        .select("snp", "source",
                F.explode(F.expr(_shingle_array_sql(_Q258_N))).alias("w"))
        .select("snp", "source", F.md5("w").alias("h"))
    )
    # ONE exchange: hash-partitioning on h satisfies the (snp, source,
    # h) distinct AND the membership window (subset clustering).  The
    # window computes "seen in the old epoch" in place over the single
    # pipeline — a join-back form would need a second distinct whose
    # cached partitioning AQE cannot see (measured: it re-exchanged
    # the full a-side gram set and broadcast it, which outgrows
    # memory at corpus scale).
    cd = g.repartition(session_parallelism(spark), "h").distinct()
    has_a = F.max(
        F.when(F.col("snp") == "a", 1).otherwise(0)
    ).over(Window.partitionBy("h"))
    return (
        cd.withColumn("has_a", has_a)
        .filter(F.col("snp") == "b")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("has_a") == 0, 1).otherwise(0))
            .cast("bigint").alias("novel"),
        )
        .select(
            "source", "n_grams", "novel",
            F.floor(F.col("novel") * 10000.0 / F.col("n_grams") + 0.5)
            .cast("bigint").alias("novelty_bps"),
        )
        .orderBy("source")
    )

"""Q86–Q89: additional analytics operator shapes (latest-per-key dedup,
funnel conversion, grouped top-k, vector centroids) — each a reusable
pattern a training-data/analytics platform runs daily, declared with
full DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators import text as text_ops
from tidb_gateway_spark.queries.registry import register


@register(
    "q86_latest_event_per_user",
    "SELECT user_id, event_id AS last_event, event_type AS last_type FROM ("
    "SELECT user_id, event_id, event_type, ROW_NUMBER() OVER "
    "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t "
    "WHERE rn = 1 ORDER BY user_id",
    doc="Keep-latest-per-key dedup (the CDC/compaction shape). Declared "
        "plan: max(struct(ts, event_id, event_type)) per user — the "
        "aggregate form of latest-per-key.  Same answer as the oracle's "
        "rn=1 window ((ts,event_id) unique per user), but it partial-"
        "aggregates map-side: the shuffle carries one struct per "
        "(partition × user) instead of every event row sorted within "
        "its partition.  At 100 TB compaction volume this is the "
        "difference between shuffling the keyspace and shuffling the "
        "full event stream.",
    tags=("dedup", "window"),
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
        .select(
            "user_id",
            F.col("s.event_id").alias("last_event"),
            F.col("s.event_type").alias("last_type"),
        )
        .orderBy("user_id")
    )


@register(
    "q87_funnel_conversion",
    "WITH s AS (SELECT user_id, MIN(ts) AS t0 FROM events "
    "WHERE event_type = 'signup' GROUP BY user_id), "
    "conv AS (SELECT s.user_id, "
    "MAX(CASE WHEN e.event_type = 'purchase' "
    "AND epoch_us(e.ts) - epoch_us(s.t0) BETWEEN 0 AND 1800000000 "
    "THEN 1 ELSE 0 END) AS converted "
    "FROM s JOIN events e ON e.user_id = s.user_id GROUP BY s.user_id) "
    "SELECT CAST(SUM(converted) AS BIGINT) AS conversions, COUNT(*) AS signups "
    "FROM conv",
    doc="Funnel: users converting signup→purchase within 30 minutes. "
        "Join + conditional agg; exact epoch-micros bounds cross-engine.",
    tags=("analytics", "join"),
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t0_us"))
    )
    joined = s.join(e.select("user_id", "event_type", "ts_us"), "user_id")
    converted = F.max(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts_us") - F.col("t0_us")).between(0, 1_800_000_000),
            1,
        ).otherwise(0)
    )
    conv = joined.groupBy("user_id").agg(converted.alias("converted"))
    return conv.agg(
        F.sum("converted").alias("conversions"), F.count("*").alias("signups")
    )


@register(
    "q88_topk_per_group",
    "SELECT p_brand, p_partkey, p_retailprice FROM ("
    "SELECT p_brand, p_partkey, p_retailprice, ROW_NUMBER() OVER "
    "(PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part) t "
    "WHERE rn <= 3 ORDER BY p_brand, p_retailprice DESC, p_partkey",
    doc="Top-k per group (k=3 priciest parts per brand): per-key window, "
        "never a global sort; the grouped analog of TakeOrdered.",
    tags=("analytics", "window"),
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy("p_brand", F.desc("p_retailprice"), "p_partkey")
    )


@register(
    "q89_embedding_centroids",
    # element-wise mean per label via unnest-with-position, then scalar
    # projections of the centroid (full-array compare would be
    # representation-fragile across engines)
    "WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, "
    "UNNEST(CAST(embedding AS DOUBLE[])) AS v FROM embeddings), "
    "cent AS (SELECT label, pos, AVG(v) AS c FROM ex GROUP BY label, pos) "
    "SELECT label, COUNT(*) AS dim, "
    "FLOOR(MAX(CASE WHEN pos = 1 THEN c END)*1000000 + 0.5)/1000000 AS c0, "
    "FLOOR(SQRT(SUM(c*c))*1000000 + 0.5)/1000000 AS cnorm "
    "FROM cent GROUP BY label ORDER BY label",
    doc="Vector aggregate: per-label embedding centroid via "
        "posexplode → (label, pos) mean — the distributed form of "
        "element-wise array mean (no array-sized state in any single "
        "aggregator). Projects centroid[0] and ||centroid||.",
    tags=("similarity", "llm", "agg"),
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return (
        cent.groupBy("label")
        .agg(
            F.count("*").alias("dim"),
            stable_round(F.max(F.when(F.col("pos") == 0, F.col("c"))), 6).alias("c0"),
            stable_round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("cnorm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------- Q133
_HR_US = 3_600_000_000  # one hour in epoch-micros


@register(
    "q133_gap_fill_locf",
    "WITH h AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr, "
    "COUNT(*) AS n, SUM(value) AS sv FROM events "
    "WHERE user_id < 10 GROUP BY 1, 2), "
    "rng AS (SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM h "
    "GROUP BY user_id), "
    "hours AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS hr FROM rng), "
    "f AS (SELECT hours.user_id, hours.hr, COALESCE(h.n, 0) AS n, h.sv, "
    "(h.n IS NULL) AS filled FROM hours LEFT JOIN h "
    "ON h.user_id = hours.user_id AND h.hr = hours.hr) "
    "SELECT user_id, CAST(hr AS BIGINT) AS hr, n, filled, "
    "FLOOR((LAST_VALUE(sv IGNORE NULLS) OVER ("
    "PARTITION BY user_id ORDER BY hr "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))*100 + 0.5)/100 "
    "AS v FROM f ORDER BY user_id, hr",
    doc="Time-series gap filling + last-observation-carried-forward "
        "(the hypertable q112 family's serving complement): per-user "
        "HOURLY grid densified with sequence()+explode between each "
        "user's first and last active hour, missing hours join as "
        "n=0/filled=true, and the hourly value sum is carried forward "
        "with last(ignorenulls) over an unbounded-preceding frame. "
        "Scale shape: the grid explode is bounded by (span-hours × "
        "users), the join is co-partitioned on (user, hr), and the "
        "LOCF window rides the SAME user_id shuffle — no extra "
        "exchange. The declared form restricts to 10 users to bound "
        "the output; the operators compose unchanged at full width.",
    tags=("timeseries", "window"),
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    h = (
        e.groupBy(
            "user_id",
            (F.col("ts_us") / _HR_US).cast("long").alias("hr"),
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    )
    rng = h.groupBy("user_id").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    hours = rng.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("hr"))
    f = (
        hours.join(h, ["user_id", "hr"], "left")
        .select(
            "user_id", "hr",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "sv",
            F.col("n").isNull().alias("filled"),
        )
    )
    w = (
        Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        f.select(
            "user_id", "hr", "n", "filled",
            stable_round(
                F.last("sv", ignorenulls=True).over(w), 2).alias("v"),
        )
        .orderBy("user_id", "hr")
    )


# ---------------------------------------------------------------- Q134
@register(
    "q134_event_path_prefixes",
    "WITH seq AS (SELECT user_id, "
    "list(event_type ORDER BY ts, event_id) AS s FROM events "
    "GROUP BY user_id) "
    "SELECT array_to_string(s[1:3], '>') AS path3, "
    "COUNT(*) AS users FROM seq GROUP BY 1 ORDER BY path3",
    doc="Event-path analysis (funnel/journey mining): each user's first "
        "three event types joined into a path string, counted across "
        "users. Spark form: ONE groupBy(user) with "
        "array_sort(collect_list(struct(ts_us, event_id, event_type))) "
        "— the per-user sort happens inside the aggregate on "
        "collected structs (bounded by events-per-user), never as a "
        "corpus-wide window or global sort; the path projection and "
        "the second (tiny, |paths|-sized) count aggregate combine "
        "map-side.",
    tags=("analytics", "path"),
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts_us", "event_id", "event_type"))
            ).alias("s")
        )
    )
    path3 = F.array_join(
        F.slice(
            F.transform(F.col("s"), lambda x: x["event_type"]), 1, 3),
        ">",
    )
    return (
        seq.select(path3.alias("path3"))
        .groupBy("path3")
        .agg(F.count("*").alias("users"))
        .orderBy("path3")
    )


# ---------------------------------------------------------------- Q135
@register(
    "q135_rolling_distinct_types",
    "SELECT event_id, ("
    "SELECT COUNT(DISTINCT e2.event_type) FROM events e2 "
    "WHERE e2.user_id = e.user_id AND (e2.ts < e.ts "
    "OR (e2.ts = e.ts AND e2.event_id <= e.event_id))"
    ") AS seen FROM events e WHERE event_id % 199 = 0 ORDER BY event_id",
    doc="Rolling DISTINCT count over a window — neither engine supports "
        "COUNT(DISTINCT) OVER, so the Spark form is the idiomatic "
        "rewrite: size(collect_set(type)) over the running frame, one "
        "user_id shuffle, set state bounded by |event types|. The "
        "oracle pays the O(n·k) correlated subquery instead — the "
        "contrast IS the point: the window rewrite scales linearly "
        "where the subquery form cannot. Output sampled by id modulus.",
    tags=("window", "analytics"),
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.select(
            "event_id",
            F.size(F.collect_set("event_type").over(w)).alias("seen"),
        )
        .filter(F.col("event_id") % 199 == 0)
        .orderBy("event_id")
    )


# ---------------------------------------------------------------- Q136
_SNAP_SPLIT = 0.5  # old snapshot = first half of doc ids


@register(
    "q136_snapshot_diff_cdc",
    "WITH mx AS (SELECT MAX(doc_id) AS m FROM documents), "
    "old AS (SELECT doc_id, md5(text) AS h FROM documents, mx "
    "WHERE doc_id <= m * 0.5 AND doc_id % 7 <> 0), "
    "new AS (SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0 "
    "THEN text || ' v2' ELSE text END) AS h "
    "FROM documents, mx WHERE doc_id <= m * 0.5 AND doc_id % 11 <> 0), "
    "j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS id, o.h AS oh, "
    "n.h AS nh FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id) "
    "SELECT CAST(SUM(CASE WHEN oh IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS inserted, "
    "CAST(SUM(CASE WHEN nh IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS deleted, "
    "CAST(SUM(CASE WHEN oh IS NOT NULL AND nh IS NOT NULL "
    "AND oh <> nh THEN 1 ELSE 0 END) AS BIGINT) AS updated, "
    "CAST(SUM(CASE WHEN oh = nh THEN 1 ELSE 0 END) AS BIGINT) "
    "AS unchanged FROM j",
    doc="CDC snapshot diff (the MERGE-feed operator): two deterministic "
        "derivations of the corpus stand in for consecutive snapshots "
        "(membership differs by modulus, content drifts on a second "
        "modulus); a FULL OUTER join on key compares 32-char content "
        "hashes — never bodies — and classifies every key as "
        "inserted/deleted/updated/unchanged. This is the at-scale "
        "incremental-ingest primitive: the shuffle carries (id, hash) "
        "pairs only, and the classification is one conditional "
        "aggregate. Complements q90 (anti-join novelty) with the full "
        "bidirectional diff.",
    tags=("dedup", "cdc", "join"),
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = d.agg(F.max("doc_id").alias("m"))
    base = d.crossJoin(F.broadcast(m)).filter(
        F.col("doc_id") <= F.col("m") * _SNAP_SPLIT)
    old = base.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("oh"))
    new = base.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
        ).alias("nh"),
    )
    j = old.join(new, "doc_id", "full_outer")
    return j.agg(
        F.sum(F.col("oh").isNull().cast("long")).alias("inserted"),
        F.sum(F.col("nh").isNull().cast("long")).alias("deleted"),
        F.sum(
            (F.col("oh").isNotNull() & F.col("nh").isNotNull()
             & (F.col("oh") != F.col("nh"))).cast("long")
        ).alias("updated"),
        F.sum((F.col("oh") == F.col("nh")).cast("long")).alias("unchanged"),
    )


# ---------------------------------------------------------------- Q137
@register(
    "q137_outlier_flags",
    "WITH s AS (SELECT event_type, AVG(value) AS mu, "
    "STDDEV_SAMP(value) AS sd FROM events GROUP BY event_type) "
    "SELECT e.event_type, COUNT(*) AS n, "
    "CAST(SUM(CASE WHEN e.value > s.mu + 3 * s.sd THEN 1 ELSE 0 END) "
    "AS BIGINT) AS hi, "
    "CAST(SUM(CASE WHEN e.value < s.mu - 3 * s.sd THEN 1 ELSE 0 END) "
    "AS BIGINT) AS lo, "
    "FLOOR((MAX(s.mu) + 3 * MAX(s.sd))*10000 + 0.5)/10000 AS thr_hi "
    "FROM events e JOIN s ON s.event_type = e.event_type "
    "GROUP BY e.event_type ORDER BY e.event_type",
    doc="Statistical outlier detection (3σ rule) — the data-quality "
        "gate for metric columns: per-type mean/stddev computed in a "
        "first aggregate (5 rows), broadcast back onto the fact scan, "
        "rows flagged beyond ±3σ, counts per type. Two passes over "
        "events but only ONE shuffle of pre-aggregated rows each; the "
        "stats side is always broadcast-sized (|groups| rows) at any "
        "data scale — this never becomes a fact-fact join.",
    tags=("analytics", "quality"),
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd"))
    j = e.join(F.broadcast(s), "event_type")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("value") > F.col("mu") + 3 * F.col("sd"))
                .cast("long")).alias("hi"),
            F.sum(
                (F.col("value") < F.col("mu") - 3 * F.col("sd"))
                .cast("long")).alias("lo"),
            stable_round(
                F.max("mu") + 3 * F.max("sd"), 4).alias("thr_hi"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q138
@register(
    "q138_skew_diagnostics",
    "WITH k AS (SELECT user_id, COUNT(*) AS c FROM events "
    "GROUP BY user_id), "
    "top AS (SELECT user_id, c, ROW_NUMBER() OVER "
    "(ORDER BY c DESC, user_id) AS rn FROM k) "
    "SELECT CAST((SELECT COUNT(*) FROM k) AS BIGINT) AS nkeys, "
    "CAST((SELECT MAX(c) FROM k) AS BIGINT) AS maxc, "
    "FLOOR((SELECT MAX(c)*1.0/AVG(c) FROM k)*100 + 0.5)/100 AS skew, "
    "CAST((SELECT SUM(c) FROM top WHERE rn <= 5) AS BIGINT) AS top5 ",
    doc="Join-key skew diagnostics — the operational report that "
        "decides between a plain shuffle join, AQE skew split, and "
        "q121's explicit salting: key cardinality, hottest-key count, "
        "skew factor (max/avg), and the top-5 key mass for "
        "events.user_id. One partial-combined groupBy to key counts "
        "(the shuffle carries one row per key), then metadata-sized "
        "aggregates — the report costs one scan regardless of fact "
        "size.",
    tags=("analytics", "skew"),
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = e.groupBy("user_id").agg(F.count("*").alias("c"))
    top5 = (
        k.orderBy(F.desc("c"), "user_id").limit(5)
        .agg(F.sum("c").alias("top5"))
    )
    stats = k.agg(
        F.count("*").alias("nkeys"),
        F.max("c").alias("maxc"),
        stable_round(
            F.max("c") / F.avg("c"), 2).alias("skew"),
    )
    return stats.crossJoin(top5).select("nkeys", "maxc", "skew", "top5")


# ---------------------------------------------------------------- Q139
@register(
    "q139_levenshtein_verify",
    "WITH b AS (SELECT LOWER(SUBSTR(text,1,40)) AS p, doc_id, "
    "SUBSTR(text,1,80) AS t FROM documents), "
    "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, "
    "levenshtein(x.t, y.t) AS d FROM b x JOIN b y "
    "ON x.p = y.p AND x.doc_id < y.doc_id) "
    "SELECT CAST(d // 5 AS INT) AS bucket, COUNT(*) AS n "
    "FROM pairs GROUP BY 1 ORDER BY bucket",
    doc="Edit-distance verification of near-dup candidates: q62's "
        "normalized-prefix buckets generate candidate pairs (bucket "
        "self-join — never all-pairs), then exact Levenshtein over "
        "80-char prefixes, histogrammed in 5-edit buckets. Levenshtein "
        "is integer-exact in both engines so the histogram hash-"
        "matches. The string family's verify stage, parallel to q74's "
        "set-Jaccard verify — cost ∝ candidate pairs × prefix², "
        "bounded by the 80-char cap.",
    tags=("dedup", "text", "similarity"),
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        F.lower(F.substring("text", 1, 40)).alias("p"),
        F.col("doc_id"),
        F.substring("text", 1, 80).alias("t"),
    )
    x = b.select(F.col("p"), F.col("doc_id").alias("a"),
                 F.col("t").alias("ta"))
    y = b.select(F.col("p"), F.col("doc_id").alias("b"),
                 F.col("t").alias("tb"))
    pairs = x.join(y, "p").filter(F.col("a") < F.col("b"))
    return (
        pairs.select(
            (F.levenshtein("ta", "tb") / 5).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q140
_WK_US = 7 * 24 * 3_600_000_000


@register(
    "q140_cohort_retention",
    "WITH f AS (SELECT user_id, MIN(epoch_us(ts)) // 604800000000 "
    "AS cw FROM events GROUP BY user_id), "
    "a AS (SELECT DISTINCT e.user_id, "
    "epoch_us(e.ts) // 604800000000 AS aw FROM events e) "
    "SELECT CAST(f.cw AS BIGINT) AS cohort_week, "
    "CAST(a.aw - f.cw AS BIGINT) AS week_n, "
    "COUNT(*) AS active_users "
    "FROM a JOIN f ON f.user_id = a.user_id "
    "GROUP BY 1, 2 ORDER BY cohort_week, week_n",
    doc="Cohort retention matrix: users bucketed by first-activity week "
        "(cohort), counted in each subsequent activity week. Three "
        "partial-combined aggregates and ONE user-keyed join — the "
        "cohort frame is |users|-sized (broadcast at dimension scale), "
        "the activity frame is per-(user, week) distinct, and both "
        "derive from a single events scan that Catalyst reuses. The "
        "canonical product-analytics operator the reference served "
        "only as relayed SQL.",
    tags=("analytics", "cohort"),
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wk = (F.col("ts_us") / _WK_US).cast("long")
    f = e.groupBy("user_id").agg(
        (F.min("ts_us") / _WK_US).cast("long").alias("cw"))
    a = e.select("user_id", wk.alias("aw")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("aw") - F.col("cw")).alias("week_n"),
        )
        .agg(F.count("*").alias("active_users"))
        .orderBy("cohort_week", "week_n")
    )


# ---------------------------------------------------------------- Q141
@register(
    "q141_point_in_time_join",
    # Synthetic SCD2 dimension: each customer's account-balance history
    # as 3 deterministic versions with validity windows carved from the
    # order-date range; orders join to the version valid AT order time.
    # All boundary arithmetic is INTEGER epoch-micros (interval
    # multiply/divide rounds differently across engines).
    "WITH span AS (SELECT epoch_us(MIN(o_orderdate)) AS lo, "
    "epoch_us(MAX(o_orderdate)) AS hi FROM orders), "
    "ver AS (SELECT c_custkey, v, "
    "lo + ((hi - lo) * (v - 1)) // 3 AS from_us, "
    "CASE WHEN v = 3 THEN hi + 1 "
    "ELSE lo + ((hi - lo) * v) // 3 END AS to_us, "
    "c_acctbal * v AS bal_v "
    "FROM customer, span, (SELECT UNNEST([1,2,3]) AS v)), "
    "pit AS (SELECT o.o_orderkey, ver.v, ver.bal_v FROM orders o "
    "JOIN ver ON ver.c_custkey = o.o_custkey "
    "AND epoch_us(o.o_orderdate) >= ver.from_us "
    "AND epoch_us(o.o_orderdate) < ver.to_us) "
    "SELECT CAST(v AS INT) AS v, COUNT(*) AS n, "
    "FLOOR(SUM(bal_v)*100 + 0.5)/100 AS s "
    "FROM pit GROUP BY v ORDER BY v",
    doc="Point-in-time (SCD2 / feature-store) join: each order matched "
        "to the dimension VERSION valid at its order date — the "
        "temporal-correctness join that prevents feature leakage in "
        "training pipelines. The dimension's validity windows are "
        "non-overlapping, so the range predicate rides the c_custkey "
        "equi-join (hash join + residual filter — never a nested-loop "
        "range join); at 100 TB the version table is dimension-sized "
        "and the fact side never shuffles more than once. Validity "
        "boundaries are integer epoch-micros carved deterministically "
        "from the order-date span (interval multiply/divide rounds "
        "differently across engines; integer DIV does not).",
    tags=("join", "temporal", "scd2"),
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    span = o.agg(
        F.unix_micros(F.min("o_orderdate").cast("timestamp")).alias("lo"),
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias("hi"))
    v = spark.range(1, 4).select(F.col("id").cast("int").alias("v"))
    ver = (
        c.crossJoin(F.broadcast(span)).crossJoin(F.broadcast(v))
        .select(
            "c_custkey", "v",
            (F.col("lo") + F.expr("((hi - lo) * (v - 1)) DIV 3")
             ).alias("from_us"),
            F.when(F.col("v") == 3, F.col("hi") + 1)
            .otherwise(F.col("lo") + F.expr("((hi - lo) * v) DIV 3"))
            .alias("to_us"),
            (F.col("c_acctbal") * F.col("v")).alias("bal_v"),
        )
    )
    ous = F.unix_micros(o.o_orderdate.cast("timestamp"))
    pit = o.join(
        ver,
        (ver.c_custkey == o.o_custkey)
        & (ous >= ver.from_us)
        & (ous < ver.to_us),
    )
    return (
        pit.groupBy("v")
        .agg(F.count("*").alias("n"),
             stable_round(F.sum("bal_v"), 2).alias("s"))
        .orderBy("v")
    )


# ---------------------------------------------------------------- Q153
_GAP_US = 30 * 60 * 1_000_000


@register(
    "q153_batch_sessionization",
    "WITH f AS (SELECT user_id, ts, event_id, "
    "CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
    "OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "IS NULL THEN 1 ELSE 0 END AS new_s "
    "FROM events), "
    "s AS (SELECT user_id, CAST(SUM(new_s) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS session_id FROM f), "
    "per AS (SELECT user_id, session_id, COUNT(*) AS ev FROM s "
    "GROUP BY 1, 2) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS sessions, "
    "CAST(SUM(ev) AS BIGINT) AS events, "
    "CAST(MAX(ev) AS BIGINT) AS max_ev, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users FROM per",
    doc="BATCH sessionization (the lag-gap + cumulative-sum idiom): a "
        "session boundary wherever the gap to the previous event "
        "exceeds 30 min, session ids as the running sum of boundary "
        "flags — the batch twin of q58's streaming session_window, "
        "certifying that both constructions agree on the same data. "
        "Both windows and the per-session aggregate ride ONE user_id "
        "shuffle; the composite (ts, event_id) order key pins tie "
        "rows cross-engine.",
    tags=("window", "session", "analytics"),
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_s = (gap.isNull() | (gap > _GAP_US)).cast("long")
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = e.select(
        "user_id",
        F.sum(new_s).over(run).alias("session_id"),
    )
    per = s.groupBy("user_id", "session_id").agg(F.count("*").alias("ev"))
    return per.agg(
        F.count("*").alias("sessions"),
        F.sum("ev").alias("events"),
        F.max("ev").alias("max_ev"),
        F.countDistinct("user_id").alias("users"),
    )


# ---------------------------------------------------------------- Q154
@register(
    "q154_rolling_zscore_anomaly",
    "WITH w AS (SELECT event_type, value, "
    "AVG(value) OVER win AS mu, STDDEV_SAMP(value) OVER win AS sd, "
    "COUNT(*) OVER win AS wn FROM events "
    "WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) "
    "SELECT event_type, COUNT(*) AS scored, "
    "CAST(SUM(CASE WHEN ABS(value - mu) > 3 * sd THEN 1 ELSE 0 END) "
    "AS BIGINT) AS anomalies "
    "FROM w WHERE wn >= 10 AND sd > 0 "
    "GROUP BY event_type ORDER BY event_type",
    doc="Rolling z-score anomaly detection: each event scored against "
        "the mean/stddev of its user's PRECEDING 20 events (the "
        "trailing frame excludes the current row — no self-"
        "contamination), flagged beyond 3σ, counted per type with a "
        "minimum-history guard. Frame aggregates (avg/stddev over a "
        "bounded ROWS frame) ride the single user_id shuffle — the "
        "streaming-monitor shape, in batch.",
    tags=("window", "anomaly", "analytics"),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id") \
        .rowsBetween(-20, -1)
    w = e.select(
        "event_type", "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sd"),
        F.count("*").over(win).alias("wn"),
    )
    return (
        w.filter((F.col("wn") >= 10) & (F.col("sd") > 0))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("scored"),
            F.sum(
                (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"))
                .cast("long")).alias("anomalies"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q159
@register(
    "q159_touch_attribution",
    "WITH p AS (SELECT user_id, ts, event_id, value FROM events "
    "WHERE event_type = 'purchase'), "
    "t AS (SELECT user_id, ts, event_id, event_type FROM events "
    "WHERE event_type IN ('click', 'view')), "
    "pairs AS (SELECT p.event_id AS pid, p.value, t.event_type, "
    "t.event_id AS tid, "
    "ROW_NUMBER() OVER (PARTITION BY p.event_id "
    "ORDER BY t.ts, t.event_id) AS fr, "
    "ROW_NUMBER() OVER (PARTITION BY p.event_id "
    "ORDER BY t.ts DESC, t.event_id DESC) AS lr "
    "FROM p JOIN t ON t.user_id = p.user_id AND t.ts < p.ts "
    "AND t.ts >= p.ts - INTERVAL 2 HOUR) "
    "SELECT event_type, "
    "CAST(COUNT(*) FILTER (WHERE fr = 1) AS BIGINT) AS first_touch, "
    "CAST(COUNT(*) FILTER (WHERE lr = 1) AS BIGINT) AS last_touch, "
    "FLOOR(SUM(CASE WHEN lr = 1 THEN value ELSE 0 END)*100 + 0.5)/100 "
    "AS lt_value "
    "FROM pairs GROUP BY event_type ORDER BY event_type",
    doc="Multi-touch attribution (first-touch vs last-touch): each "
        "purchase's preceding click/view touches within a 2-hour "
        "window, credited to the earliest and latest touch — the "
        "marketing-analytics operator family. One user-keyed join "
        "bounded by the time window + two ranking windows OVER THE "
        "PAIRS (purchase-keyed, bounded by touches-per-purchase, never "
        "corpus-wide); composite order keys pin ties cross-engine.",
    tags=("analytics", "attribution", "window"),
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts_us").alias("pts"),
        F.col("event_id").alias("pid"), "value")
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("tu"), F.col("ts_us").alias("tts"),
        F.col("event_id").alias("tid"), "event_type")
    pairs = p.join(
        t,
        (F.col("tu") == F.col("pu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - 2 * 3600 * 1_000_000),
    )
    wf = Window.partitionBy("pid").orderBy("tts", "tid")
    wl = Window.partitionBy("pid").orderBy(
        F.desc("tts"), F.desc("tid"))
    r = pairs.select(
        "event_type", "value",
        F.row_number().over(wf).alias("fr"),
        F.row_number().over(wl).alias("lr"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.sum((F.col("fr") == 1).cast("long")).alias("first_touch"),
            F.sum((F.col("lr") == 1).cast("long")).alias("last_touch"),
            stable_round(
                F.sum(F.when(F.col("lr") == 1, F.col("value"))
                      .otherwise(0.0)), 2).alias("lt_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q160
@register(
    "q160_dataset_card",
    "WITH w AS (SELECT doc_id, lang, source, n_chars, "
    f"{text_ops.ddb_word_count()} AS wc, "
    "md5(text) AS h FROM documents) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS docs, "
    "CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs, "
    "CAST(COUNT(DISTINCT source) AS BIGINT) AS sources, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars, "
    "CAST(SUM(wc) AS BIGINT) AS words, "
    "CAST(COUNT(DISTINCT h) AS BIGINT) AS unique_docs, "
    "CAST(MIN(n_chars) AS BIGINT) AS min_chars, "
    "CAST(MAX(n_chars) AS BIGINT) AS max_chars "
    "FROM w",
    doc="Dataset card (the one-row corpus summary shipped with a "
        "training-data release): document/language/source cardinality, "
        "char and whitespace-token totals, exact-dup distinct count, "
        "length extremes — all in ONE scan with partial-combined "
        "aggregates (the two COUNT DISTINCTs ride Catalyst's expand "
        "rewrite; hash dedup counts 32-char digests, never bodies).",
    tags=("analytics", "llm", "card"),
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "lang", "source", "n_chars",
        text_ops.word_count().alias("wc"),
        F.md5("text").alias("h"),
    )
    return w.agg(
        F.count("*").alias("docs"),
        F.countDistinct("lang").alias("langs"),
        F.countDistinct("source").alias("sources"),
        F.sum("n_chars").alias("chars"),
        F.sum("wc").alias("words"),
        F.countDistinct("h").alias("unique_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------- Q165
@register(
    "q165_session_cooccurrence",
    "WITH f AS (SELECT user_id, ts, event_id, event_type, "
    "CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
    "OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "IS NULL THEN 1 ELSE 0 END AS new_s FROM events), "
    "s AS (SELECT user_id, event_type, CAST(SUM(new_s) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS sid FROM f), "
    "st AS (SELECT DISTINCT user_id, sid, event_type FROM s), "
    "pairs AS (SELECT a.event_type AS ta, b.event_type AS tb "
    "FROM st a JOIN st b ON b.user_id = a.user_id AND b.sid = a.sid "
    "AND a.event_type < b.event_type) "
    "SELECT ta, tb, COUNT(*) AS sessions FROM pairs "
    "GROUP BY ta, tb ORDER BY ta, tb",
    doc="Market-basket co-occurrence over sessions: which event-type "
        "PAIRS happen together in the same session (q153's lag-gap "
        "sessionization reused as the basket definition). The "
        "distinct (session, type) reduction happens BEFORE the "
        "self-join, so the pair join is bounded by |sessions|×|types|² "
        "— never events² — and the whole chain shares one user_id "
        "shuffle until the tiny pair aggregate. The support counts "
        "here are the input to association-rule mining.",
    tags=("analytics", "session", "basket"),
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_s = (gap.isNull() | (gap > _GAP_US)).cast("long")
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    from tidb_gateway_spark.operators.cache import tracked_persist

    # both self-join sides read st: persist it or the lag+running-sum
    # sessionization pipeline executes twice (the q214 reuse lesson);
    # |distinct (user, session, type)| — bounded by events, session-
    # deduped, spillable
    st = tracked_persist(
        e.select(
            "user_id", "event_type",
            F.sum(new_s).over(run).alias("sid"),
        )
        .distinct()
    )
    a = st.select("user_id", "sid", F.col("event_type").alias("ta"))
    b = st.select("user_id", "sid", F.col("event_type").alias("tb"))
    pairs = a.join(b, ["user_id", "sid"]).filter(
        F.col("ta") < F.col("tb"))
    return (
        pairs.groupBy("ta", "tb")
        .agg(F.count("*").alias("sessions"))
        .orderBy("ta", "tb")
    )


# ---------------------------------------------------------------- Q166
@register(
    "q166_three_step_funnel",
    "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
    "WHERE event_type = 'signup' GROUP BY user_id), "
    "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e "
    "JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1 "
    "WHERE e.event_type = 'click' GROUP BY e.user_id), "
    "s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e "
    "JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2 "
    "WHERE e.event_type = 'purchase' GROUP BY e.user_id) "
    "SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS step1, "
    "CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS step2, "
    "CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS step3",
    doc="Strict-sequence 3-step funnel (signup → later click → later "
        "purchase): each step's earliest qualifying time gates the "
        "next — the canonical product funnel, generalizing q87's "
        "2-step join. Three user-keyed MIN aggregates chained by "
        "co-partitioned joins (all three stages ride the same "
        "user_id partitioning; the step counts are metadata-sized). "
        "First-qualifying-event semantics (MIN then strictly-later) "
        "keep the funnel unambiguous and engine-agnostic.",
    tags=("analytics", "funnel", "join"),
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist

    e = load_table(spark, sf_dir, "events")
    # s1 feeds s2, s3 AND its own count (3 consumers), s2 feeds s3 +
    # its count: persist the per-user step tables (keyspace-sized) or
    # each count branch re-scans the raw event stream (q214 lesson)
    s1 = tracked_persist(
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts_us").alias("t1"))
    )
    s2 = tracked_persist(
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts_us").alias("t3"))
    )
    c1 = s1.agg(F.count("*").alias("step1"))
    c2 = s2.agg(F.count("*").alias("step2"))
    c3 = s3.agg(F.count("*").alias("step3"))
    return c1.crossJoin(c2).crossJoin(c3)


# ---------------------------------------------------------------- Q167
@register(
    "q167_ab_test_zstat",
    "WITH u AS (SELECT user_id, CAST(user_id % 2 AS INT) AS grp, "
    "MAX(CASE WHEN event_type = 'purchase' AND value > 150 "
    "THEN 1 ELSE 0 END) AS conv "
    "FROM events GROUP BY user_id), "
    "g AS (SELECT grp, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c "
    "FROM u GROUP BY grp), "
    "w AS (SELECT "
    "MAX(CASE WHEN grp = 0 THEN n END) AS n0, "
    "MAX(CASE WHEN grp = 0 THEN c END) AS c0, "
    "MAX(CASE WHEN grp = 1 THEN n END) AS n1, "
    "MAX(CASE WHEN grp = 1 THEN c END) AS c1 FROM g) "
    "SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0, "
    "CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1, "
    "FLOOR((c1*1.0/n1 - c0*1.0/n0)*10000 + 0.5)/10000 AS lift, "
    "FLOOR(((c1*1.0/n1 - c0*1.0/n0) / "
    "SQRT(((c0+c1)*1.0/(n0+n1)) * (1 - (c0+c1)*1.0/(n0+n1)) "
    "* (1.0/n0 + 1.0/n1)))*1000 + 0.5)/1000 AS z "
    "FROM w",
    doc="A/B experiment readout (conversion = any high-value purchase, "
        "~45%% base rate at every fixture scale so the pooled variance "
        "never degenerates): deterministic bucket assignment "
        "(user_id parity stands in for the hash bucketing of q82), "
        "per-user conversion flag, two-proportion z-statistic under "
        "the pooled-variance null — the experimentation primitive "
        "every product-analytics deployment runs. Two user-keyed "
        "aggregates then driver-sized math; the z formula is evaluated "
        "identically from exact integer counts in both engines.",
    tags=("analytics", "experiment"),
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    u = (
        e.groupBy("user_id")
        .agg(F.max(
            ((F.col("event_type") == "purchase")
             & (F.col("value") > 150)).cast("int")).alias("conv"))
        .select((F.col("user_id") % 2).cast("int").alias("grp"), "conv")
    )
    g = u.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("conv").alias("c"))
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("c"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pp * (1 - pp) * (1 / F.col("n0") + 1 / F.col("n1")))
    return w.select(
        "n0", "c0", "n1", "c1",
        stable_round(p1 - p0, 4).alias("lift"),
        stable_round(z, 3).alias("z"),
    )


# ---------------------------------------------------------------- Q168
@register(
    "q168_gini_concentration",
    "WITH t AS (SELECT user_id, SUM(value) AS x FROM events "
    "GROUP BY user_id), "
    "r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i, "
    "COUNT(*) OVER () AS n, SUM(x) OVER () AS s FROM t) "
    "SELECT CAST(MAX(n) AS BIGINT) AS users, "
    "FLOOR(MAX(s)*100 + 0.5)/100 AS total, "
    "FLOOR((2.0 * SUM(i * x) / (MAX(n) * MAX(s)) "
    "- (MAX(n) + 1.0) / MAX(n))*10000 + 0.5)/10000 AS gini "
    "FROM r",
    doc="Gini concentration of per-user value (the inequality metric "
        "behind 'top 1% of keys hold 40% of traffic' — the "
        "quantitative companion to q138's skew report): users ranked "
        "by total value, Gini from the rank-weighted sum identity "
        "2·Σi·xᵢ/(n·Σx) − (n+1)/n. One user aggregate, one "
        "|users|-sized ranking window, exact integer ranks — the "
        "(value, user_id) composite sort key pins ties cross-engine.",
    tags=("analytics", "skew"),
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t = e.groupBy("user_id").agg(F.sum("value").alias("x"))
    wr = Window.orderBy("x", "user_id")
    wall = Window.partitionBy()
    r = t.select(
        "x",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(wall).alias("n"),
        F.sum("x").over(wall).alias("s"),
    )
    gini = (
        2.0 * F.sum(F.col("i") * F.col("x"))
        / (F.max("n") * F.max("s"))
        - (F.max("n") + 1.0) / F.max("n")
    )
    return r.agg(
        F.max("n").alias("users"),
        stable_round(F.max("s"), 2).alias("total"),
        stable_round(gini, 4).alias("gini"),
    )


# ---------------------------------------------------------------- Q171
@register(
    "q171_gap_latency_report",
    "WITH g AS (SELECT event_type, "
    "epoch_us(ts) - LAG(epoch_us(ts)) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id) AS gap_us "
    "FROM events), "
    "f AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL) "
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(FLOOR(quantile_cont(gap_us, 0.5)) AS BIGINT) AS p50_us, "
    "CAST(FLOOR(quantile_cont(gap_us, 0.95)) AS BIGINT) AS p95_us, "
    "CAST(MAX(gap_us) AS BIGINT) AS max_us "
    "FROM f GROUP BY event_type ORDER BY event_type",
    doc="Inter-event gap latency report (the SLA/latency-distribution "
        "shape): per-user consecutive gaps via LAG on epoch-micros, "
        "exact interpolated p50/p95 + max per arriving event type — "
        "integer-floored so the percentile interpolation "
        "canonicalizes. One user_id window shuffle feeding a per-type "
        "aggregate; at scale the percentile side swaps to the q143 "
        "GK-sketch with the same frame.",
    tags=("window", "analytics", "latency"),
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = e.select(
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.floor(F.expr("percentile(gap_us, 0.5)"))
            .cast("bigint").alias("p50_us"),
            F.floor(F.expr("percentile(gap_us, 0.95)"))
            .cast("bigint").alias("p95_us"),
            F.max("gap_us").alias("max_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q172
@register(
    "q172_geometric_harmonic_means",
    "SELECT l_returnflag, COUNT(*) AS n, "
    "FLOOR(EXP(AVG(LN(l_extendedprice)))*100 + 0.5)/100 AS geo, "
    "FLOOR((COUNT(*) / SUM(1.0 / l_extendedprice))*100 + 0.5)/100 AS hrm, "
    "FLOOR(AVG(l_extendedprice)*100 + 0.5)/100 AS ari "
    "FROM lineitem WHERE l_extendedprice > 0 "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
    doc="Geometric and harmonic means beside the arithmetic one — the "
        "multiplicative/rate aggregation family (growth factors, "
        "rate averaging) missing from both engines' builtins, composed "
        "from EXP(AVG(LN)) and n/Σ(1/x): both decompose into partial-"
        "combinable sums, so the shuffles stay one pre-aggregated row "
        "per group. AM ≥ GM ≥ HM ordering doubles as a sanity "
        "invariant in the output.",
    tags=("agg", "stats"),
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 0)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            stable_round(
                F.exp(F.avg(F.log("l_extendedprice"))), 2).alias("geo"),
            stable_round(
                F.count("*") / F.sum(1.0 / F.col("l_extendedprice")), 2
            ).alias("hrm"),
            stable_round(F.avg("l_extendedprice"), 2).alias("ari"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q173
@register(
    "q173_deterministic_mode",
    "WITH c AS (SELECT user_id, event_type, COUNT(*) AS m FROM events "
    "GROUP BY 1, 2), "
    "r AS (SELECT user_id, event_type, ROW_NUMBER() OVER ("
    "PARTITION BY user_id ORDER BY m DESC, event_type) AS rn FROM c) "
    "SELECT event_type AS modal_type, COUNT(*) AS users "
    "FROM r WHERE rn = 1 GROUP BY 1 ORDER BY modal_type",
    doc="Deterministic MODE per group: each user's most frequent event "
        "type with a lexicographic tiebreak — builtin mode() is "
        "explicitly nondeterministic on ties in both engines, so the "
        "portable form is count → ranked window with a PINNED tie "
        "order. The window runs over (user × type) aggregate rows "
        "(bounded by |types| per user), not events.",
    tags=("agg", "window", "mode"),
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("m"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("m"), F.asc("event_type"))
    r = c.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1)
    return (
        r.groupBy(F.col("event_type").alias("modal_type"))
        .agg(F.count("*").alias("users"))
        .orderBy("modal_type")
    )


# ---------------------------------------------------------------- Q174
@register(
    "q174_adoption_curve",
    "WITH fe AS (SELECT user_id, "
    "MIN(epoch_us(ts)) // 86400000000 AS d0 FROM events "
    "GROUP BY user_id), "
    "daily AS (SELECT d0, COUNT(*) AS new_users FROM fe GROUP BY d0) "
    "SELECT CAST(d0 AS BIGINT) AS day, new_users, "
    "CAST(SUM(new_users) OVER (ORDER BY d0 "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cumulative FROM daily ORDER BY day",
    doc="Cumulative adoption curve: each user's FIRST-event day, daily "
        "new-user counts, and the running total — the growth chart "
        "behind every launch dashboard. The cumulative window runs "
        "over the |days|-sized daily aggregate (calendar-bounded), "
        "never the fact table; the first-event reduction is one "
        "user-keyed MIN.",
    tags=("analytics", "window", "reporting"),
)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    fe = e.groupBy("user_id").agg(
        (F.min("ts_us") / 86_400_000_000).cast("long").alias("d0"))
    daily = fe.groupBy("d0").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d0").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        daily.select(
            F.col("d0").alias("day"),
            "new_users",
            F.sum("new_users").over(w).alias("cumulative"),
        )
        .orderBy("day")
    )

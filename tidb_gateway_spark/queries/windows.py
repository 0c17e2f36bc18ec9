"""Q31–Q37: window functions (SURVEY.md §2B).

Scale notes: per-user windows (Q31/33–36) shuffle once by user_id then
sort within partitions — scales linearly.  The *global* windows (Q32
rank over all orders, Q37 ntile) would be single-partition sorts in
vanilla Spark; the declared plans instead route through the two-pass
range-partitioned operators in operators/rank.py (sample → range
boundaries → per-partition rank + driver-side offset prefix-sum), so
the shipped plan is the one you'd run at 100 TB.  tests/test_plans.py
asserts no single-partition window exchange appears in their physical
plans; tests/test_operators.py asserts equivalence with the vanilla
window forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.sampling import ddb_hex_int, hex_int
from tidb_gateway_spark.queries.registry import register

# Per-user event ordering: ts is unique per user in the fixture, event_id
# tiebreak keeps it deterministic regardless.
def _user_window():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@register(
    "q31_row_number",
    "SELECT event_id, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn "
    "FROM events ORDER BY event_id",
    doc="ROW_NUMBER per key.",
    tags=("window",),
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", F.row_number().over(_user_window()).alias("rn"))
        .orderBy("event_id")
    )


@register(
    "q32_rank_dense_rank",
    "SELECT o_orderkey, CAST(RANK() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS r, "
    "CAST(DENSE_RANK() OVER (ORDER BY o_orderpriority) AS INT) AS dr "
    "FROM orders ORDER BY o_orderkey LIMIT 100",
    doc="RANK / DENSE_RANK over global windows, via the scale-safe "
        "two-pass operators (operators/rank.py): the rank ordering has "
        "a unique tiebreak (o_orderkey) so RANK == global ROW_NUMBER; "
        "DENSE_RANK ranks the distinct o_orderpriority set (5 values) "
        "and broadcast-joins the ranks back.  No single-partition sort.",
    tags=("window",),
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.rank import (
        global_dense_rank,
        global_row_number,
    )

    o = load_table(spark, sf_dir, "orders")
    # RANK() OVER (ORDER BY o_totalprice DESC, o_orderkey): the tiebreak
    # makes the ordering total, so rank == row_number exactly.
    ranked = global_row_number(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        [("o_totalprice", "desc"), "o_orderkey"],
        out_col="r",
    )
    dense = global_dense_rank(ranked, ["o_orderpriority"], out_col="dr")
    return (
        dense.select("o_orderkey", "r", "dr")
        .orderBy("o_orderkey")
        .limit(100)
    )


# q33 declared form: the lag/lead window feeds a per-user checksum
# aggregate instead of a full-result ORDER BY event_id.  The old form's
# cost at sf1 was ~70% global sort + Arrow transfer of the 1M-row output
# — pure declaration tail that would be THE bottleneck at 100×, telling
# us nothing about the window operator.  The checksum keeps the check
# value-exact: every (event_id, prev, nxt) triple feeds an md5-derived
# 32-bit term summed per user, so any wrong/missing lag or lead anywhere
# changes chk.  Both engines derive the term identically (first 8 md5
# hex chars as an integer — operators/sampling.hex_int and its DuckDB
# twin ddb_hex_int); the sum is order-independent so no ordered agg is
# needed.
_Q33_ORACLE = (
    "SELECT user_id, COUNT(*) AS n, CAST(SUM("
    + ddb_hex_int(
        "md5(CAST(event_id AS VARCHAR) || '|' || "
        "COALESCE(prev, '~') || '|' || COALESCE(nxt, '~'))", 1, 8
    )
    + ") AS BIGINT) AS chk FROM ("
    "SELECT user_id, event_id, "
    "LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev, "
    "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt "
    "FROM events) t GROUP BY user_id ORDER BY user_id"
)


@register(
    "q33_lag_lead",
    _Q33_ORACLE,
    doc="LAG / LEAD offsets, verified through a per-user order-"
        "independent md5 checksum of every (event_id, prev, nxt) triple "
        "— value-exact on the whole window output without materializing "
        "a full-result global sort (the old declared form spent ~70% of "
        "its sf1 time sorting+transferring 1M rows it only needed for "
        "hash determinism).  One shuffle by user_id for the window; the "
        "checksum partial-aggregates map-side on the same partitioning.",
    tags=("window",),
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = _user_window()
    seq = e.select(
        "user_id",
        "event_id",
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    term = hex_int(
        F.md5(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.coalesce(F.col("prev"), F.lit("~")),
                F.coalesce(F.col("nxt"), F.lit("~")),
            )
        ),
        1, 8,
    )
    return (
        seq.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(term).alias("chk"))
        .orderBy("user_id")
    )


@register(
    "q34_running_sum",
    "SELECT event_id, FLOOR(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*100 + 0.5)/100 AS rs "
    "FROM events ORDER BY event_id",
    doc="Running sum with ROWS frame (deterministic summation order).",
    tags=("window",),
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = _user_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.select("event_id", stable_round(F.sum("value").over(w), 2).alias("rs"))
        .orderBy("event_id")
    )


@register(
    "q35_sliding_rows_frame",
    "SELECT event_id, FLOOR(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)*100 + 0.5)/100 AS ma "
    "FROM events ORDER BY event_id",
    doc="Sliding 3-row moving average.",
    tags=("window",),
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = _user_window().rowsBetween(-2, Window.currentRow)
    return (
        e.select("event_id", stable_round(F.avg("value").over(w), 2).alias("ma"))
        .orderBy("event_id")
    )


@register(
    "q36_first_value_full_frame",
    "SELECT DISTINCT user_id, FIRST_VALUE(event_type) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS f "
    "FROM events ORDER BY user_id",
    doc="FIRST_VALUE with an explicit full frame, deduplicated per key. "
        "Declared plan: min(struct(ts, event_id, event_type)) per user — "
        "the aggregate form of first-per-key.  Same answer as the "
        "oracle's window+DISTINCT ((ts,event_id) is unique per user so "
        "the struct min is the first row), but it partial-aggregates "
        "map-side, so the shuffle carries one struct per (partition × "
        "user) instead of sorting every event row within its partition "
        "— at 100 TB that halves the exchange and drops the sort.",
    tags=("window",),
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("s"))
        .select("user_id", F.col("s.event_type").alias("f"))
        .orderBy("user_id")
    )


@register(
    "q37_ntile",
    "SELECT CAST(q AS INT) AS q, COUNT(*) AS n FROM "
    "(SELECT NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS q FROM orders) t "
    "GROUP BY q ORDER BY q",
    doc="NTILE quartiles (deterministic: unique orderkey tiebreak), via "
        "the scale-safe two-pass global_ntile (operators/rank.py): tile "
        "is pure arithmetic on the range-partitioned row number and the "
        "driver-side total.  No single-partition sort.",
    tags=("window",),
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.rank import global_ntile

    o = load_table(spark, sf_dir, "orders")
    tiled = global_ntile(
        o.select("o_totalprice", "o_orderkey"),
        4,
        ["o_totalprice", "o_orderkey"],
        out_col="q",
    )
    return tiled.groupBy("q").agg(F.count("*").alias("n")).orderBy("q")


# ---------------------------------------------------------------- Q118
from tidb_gateway_spark.queries.registry import sql_query  # noqa: E402

sql_query(
    "q118_percent_rank_cume_dist",
    "SELECT c_nationkey, c_custkey, "
    "FLOOR(PERCENT_RANK() OVER "
    "(PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) "
    "* 1000000 + 0.5) / 1000000 AS pr, "
    "FLOOR(CUME_DIST() OVER "
    "(PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) "
    "* 1000000 + 0.5) / 1000000 AS cd "
    "FROM customer WHERE c_nationkey < 3 "
    "ORDER BY c_nationkey, c_custkey",
    doc="Relative-rank window functions: percent_rank ((rank-1)/(n-1)) "
        "and cume_dist (rows<=current / n) per nation partition — both "
        "integer-ratio doubles, so cross-engine bit agreement needs "
        "only the shared FLOOR rounding. Dialect-shared SQL; "
        "partitioned window, no global sort.",
    tags=("window",),
)


# ---------------------------------------------------------------- Q120
@register(
    "q120_range_interval_frame",
    # RANGE frame over exact epoch-micros: trailing 10 minutes
    # INCLUDING the current row's instant, strict window arithmetic on
    # integers so both engines agree exactly.
    "SELECT event_id, "
    "COUNT(*) OVER (PARTITION BY user_id ORDER BY "
    "CAST(epoch_us(ts) AS BIGINT) "
    "RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n10m "
    "FROM events WHERE event_type = 'error' "
    "QUALIFY event_id % 7 = 0 ORDER BY event_id",
    doc="RANGE-interval window frame: trailing 10-minute per-user event "
        "count on exact epoch-micros (integer RANGE bounds — no "
        "timestamp-arithmetic drift between engines). The declared "
        "output samples every 7th row to keep the result small while "
        "the frame computation runs over the full partition.",
    tags=("window", "timeseries"),
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return (
        e.filter(F.col("event_type") == "error")
        .withColumn("n10m", F.count("*").over(w))
        .filter(F.col("event_id") % 7 == 0)
        .select("event_id", "n10m")
        .orderBy("event_id")
    )


@register(
    "q131_nth_value_lead_default",
    "SELECT event_id, "
    "nth_value(event_type, 2) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS t2, "
    "lead(value, 2, -1.0) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id) AS v2 "
    "FROM events QUALIFY event_id % 199 = 0 ORDER BY event_id",
    doc="nth_value over a full frame + lead with an explicit DEFAULT "
        "(the two window-function corners the registry lacked): per "
        "user, the 2nd event's type and the value two events ahead "
        "(−1.0 past the partition edge). One shuffle by user_id; the "
        "(ts_us, event_id) composite order key makes tie rows "
        "deterministic cross-engine. Output sampled by event_id "
        "modulus so the declared result stays bounded while every "
        "partition still computes.",
    tags=("window",),
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wf = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        e.select(
            "event_id",
            F.nth_value("event_type", 2).over(wf).alias("t2"),
            F.lead("value", 2, -1.0).over(w).alias("v2"),
        )
        .filter(F.col("event_id") % 199 == 0)
        .orderBy("event_id")
    )


@register(
    "q145_ratio_to_report",
    "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
    "FLOOR((COUNT(*) * 1.0 / SUM(COUNT(*)) OVER "
    "(PARTITION BY o_orderpriority))*10000 + 0.5)/10000 AS share, "
    "FLOOR((COUNT(*) * 1.0 / SUM(COUNT(*)) OVER ())*10000 + 0.5)/10000 "
    "AS share_total "
    "FROM orders GROUP BY o_orderpriority, o_orderstatus "
    "ORDER BY o_orderpriority, o_orderstatus",
    doc="Ratio-to-report (percent-of-total window over an aggregate): "
        "each (priority, status) cell's share of its priority group and "
        "of the grand total — window functions OVER a groupBy result, "
        "the classic reporting composition. The windows run on the "
        "|groups|-sized aggregate, never on the fact table; the "
        "grand-total window is a single-partition pass over group rows "
        "only (bounded by cell count, not data).",
    tags=("window", "agg"),
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"))
    wp = Window.partitionBy("o_orderpriority")
    wt = Window.partitionBy()
    return (
        g.select(
            "o_orderpriority", "o_orderstatus", "n",
            stable_round(F.col("n") / F.sum("n").over(wp), 4).alias("share"),
            stable_round(
                F.col("n") / F.sum("n").over(wt), 4).alias("share_total"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


@register(
    "q177_topk_with_ties",
    "WITH r AS (SELECT p_brand, p_partkey, p_retailprice, "
    "RANK() OVER (PARTITION BY p_brand "
    "ORDER BY p_retailprice DESC) AS rk FROM part) "
    "SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS rows_kept, "
    "CAST(SUM(p_partkey) AS BIGINT) AS ck, "
    "CAST(MAX(rk) AS BIGINT) AS max_rank "
    "FROM r WHERE rk <= 3 GROUP BY p_brand ORDER BY p_brand",
    doc="Tie-INCLUSIVE top-k per group (RANK ≤ k): price ties all make "
        "the cut, so groups can keep MORE than k rows — the semantics "
        "leaderboards and 'best sellers' actually need, where q88's "
        "row_number arbitrarily drops tied rows (its determinism came "
        "from a composite sort key; RANK makes ties first-class "
        "instead). Same single per-group window shuffle; the id "
        "checksum + rows_kept per group certify exactly which tied "
        "rows survived.",
    tags=("window", "topk"),
)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    r = p.select(
        "p_brand", "p_partkey",
        F.rank().over(w).alias("rk"),
    ).filter(F.col("rk") <= 3)
    return (
        r.groupBy("p_brand")
        .agg(
            F.count("*").alias("rows_kept"),
            F.sum("p_partkey").alias("ck"),
            F.max("rk").alias("max_rank"),
        )
        .orderBy("p_brand")
    )

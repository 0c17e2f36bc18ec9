"""Q232–Q233: table profiling and mixture-budget solving.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q232 (table profile) computes every column's null count, exact
  distinct count, and canonical min/max in ONE aggregate pass; Spark
  plans the multi-distinct through an Expand with partial (map-side)
  distinct aggregation, so the shuffle carries per-partition distinct
  partials, not raw rows.  The long-form reshape is row-local
  (stack over the single 1-row aggregate).
* q233 (budget waterfill) reduces the corpus once (per-source token
  supplies), then the entire solver — ranking, prefix sums, segment
  search, allocation — runs on the |sources|-row frame: window
  functions over metadata, no second corpus pass, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.queries.registry import register

# ---------------------------------------------------------------- Q232
# Canonical renderings so min/max cross the engine boundary stably:
# bigints as-is, doubles as cents (bigint), timestamps as ISO date
# strings — native double/timestamp→string formatting differs between
# engines.
_Q232_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)", None),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)", None),
    ("o_orderstatus", "o_orderstatus", None),
    ("o_totalprice",
     "CAST(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS VARCHAR)",
     "cents"),
    ("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')", None),
    ("o_orderpriority", "o_orderpriority", None),
]

_Q232_ORACLE = (
    "WITH c AS (SELECT "
    + ", ".join(
        f"CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nn_{i}, "
        f"CAST(COUNT(DISTINCT {name}) AS BIGINT) AS nd_{i}, "
        f"MIN({canon}) AS mn_{i}, MAX({canon}) AS mx_{i}"
        for i, (name, canon, _) in enumerate(_Q232_COLS)
    )
    + " FROM orders) "
    + " UNION ALL ".join(
        f"SELECT '{name}' AS column_name, nn_{i} AS n_nulls, "
        f"nd_{i} AS n_distinct, mn_{i} AS min_s, mx_{i} AS max_s FROM c"
        for i, (name, _, _) in enumerate(_Q232_COLS)
    )
    + " ORDER BY column_name"
)


@register(
    "q232_table_profile",
    _Q232_ORACLE,
    doc="Table profiler (the ANALYZE/data-catalog surface as a "
        "declared query): per column, null count, EXACT distinct "
        "count, and canonical min/max — doubles canonicalized to "
        "cents and timestamps to ISO strings so the renderings are "
        "engine-stable.  Shape (r15): TWO passes — the multi-distinct "
        "Expand aggregate with all-BIGINT buffers (null counts + "
        "exact distinct counts; hash-aggregates map-side) plus a "
        "grouping-key-free string min/max aggregate (never sorts) — "
        "cross-joined 1-row × 1-row and unpivoted via a literal "
        "struct array.  Replaces the r14 single fat aggregate whose "
        "string min/max buffers forced the 7×-expanded stream through "
        "two SortAggregate sorts (2.35 → 2.02 s at sf1), itself a "
        "rework of the r13 six-scan union.  Table profiling must "
        "neither scan per column nor sort an expanded table at "
        "100 TB.",
    tags=("governance", "statistics"),
)
def q232(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = ensure_min_partitions(load_table(spark, sf_dir, "orders"))
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    canon = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": cents.cast("string"),
        "o_orderdate": F.date_format("o_orderdate", "yyyy-MM-dd"),
        "o_orderpriority": F.col("o_orderpriority"),
    }
    # TWO cheap passes, not six (the r13 per-column union: six
    # scan+agg subtrees) and not one fat one (the r14.0 single
    # aggregate: the string min/max buffers disqualify HashAggregate,
    # so the whole Expand-multiplied stream — rows ×7 — ran through
    # TWO SortAggregate sorts; measured 2.35 s vs 2.02 s at sf1,
    # identical output).  Pass 1 keeps the multi-distinct Expand but
    # with all-bigint buffers (null counts + COUNT DISTINCT), so the
    # expanded stream HASH-aggregates map-side and the exchange
    # carries Σ|distinct| partials.  Pass 2 computes the string
    # min/max alone: a grouping-key-free aggregate never sorts
    # (map-side partials, one row per partition to the gather).  The
    # two 1-row results cross-join (broadcast) and unpivot through a
    # literal struct array.  100 TB shape: two column-pruned scans
    # beat sorting a 7×-expanded table twice.
    aggs_d, aggs_mm = [], []
    for name, _, _ in _Q232_COLS:
        c = F.col(name)
        aggs_d += [
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("bigint")
            .alias(f"__nn_{name}"),
            F.countDistinct(c).cast("bigint").alias(f"__nd_{name}"),
        ]
        aggs_mm += [
            F.min(canon[name]).alias(f"__mn_{name}"),
            F.max(canon[name]).alias(f"__mx_{name}"),
        ]
    row = o.agg(*aggs_d).crossJoin(o.agg(*aggs_mm))
    structs = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"__nn_{name}").alias("n_nulls"),
            F.col(f"__nd_{name}").alias("n_distinct"),
            F.col(f"__mn_{name}").alias("min_s"),
            F.col(f"__mx_{name}").alias("max_s"),
        )
        for name, _, _ in _Q232_COLS
    ]
    return (
        row.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("column_name")
    )


# ---------------------------------------------------------------- Q233
# Budget = 60% of total token supply (basis points, exact integer).
_Q233_BUDGET_BPS = 6000

_Q233_ORACLE = (
    "WITH sup AS (SELECT source, CAST(SUM(len(list_filter("
    "string_split(trim(text), ' '), x -> x <> ''))) AS BIGINT) AS supply "
    "FROM documents WHERE trim(text) <> '' GROUP BY source), "
    # weights: rank by (supply DESC, source), w_s = rank / R
    "rk AS (SELECT source, supply, CAST(ROW_NUMBER() OVER "
    "(ORDER BY supply DESC, source) AS BIGINT) AS rank FROM sup), "
    "tot AS (SELECT CAST(SUM(rank) AS BIGINT) AS r_tot, "
    "CAST(SUM(supply) AS BIGINT) AS s_tot FROM rk), "
    f"b AS (SELECT CAST(s_tot * {_Q233_BUDGET_BPS} / 10000 AS BIGINT) "
    "AS budget, r_tot FROM tot), "
    # saturation ratio r_s = supply_s / w_s = supply_s * R / rank_s
    "seg AS (SELECT rk.source, rk.supply, rk.rank, b.budget, b.r_tot, "
    "CAST(rk.supply AS DOUBLE) * b.r_tot / rk.rank AS r, "
    "CAST(COALESCE(SUM(rk.supply) OVER w, 0) AS BIGINT) AS p_prev, "
    "CAST(COALESCE(SUM(rk.rank) OVER w, 0) AS BIGINT) AS c_prev "
    "FROM rk CROSS JOIN b WINDOW w AS ("
    "ORDER BY CAST(rk.supply AS DOUBLE) * b.r_tot / rk.rank, rk.source "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
    # water level candidate for the segment ending at this row:
    # t = (B - P_{k-1}) * R / (R - C_{k-1}); feasible iff it lands in
    # (r_{k-1}, r_k]
    "cand AS (SELECT *, "
    "CAST(budget - p_prev AS DOUBLE) * r_tot / (r_tot - c_prev) AS t, "
    "LAG(r) OVER (ORDER BY r, source) AS r_prev FROM seg), "
    "lvl AS (SELECT MIN(t) AS t_star FROM cand "
    "WHERE t <= r AND (r_prev IS NULL OR t > r_prev)) "
    "SELECT s.source, s.supply, s.rank AS weight_rank, "
    "FLOOR(LEAST(CAST(s.supply AS DOUBLE), "
    "s.rank * l.t_star / s.r_tot)*10000 + 0.5)/10000 AS alloc_tokens, "
    "(CASE WHEN s.r <= l.t_star THEN 1 ELSE 0 END) AS saturated "
    "FROM seg s CROSS JOIN lvl l ORDER BY s.source"
)


@register(
    "q233_mixture_waterfill",
    _Q233_ORACLE,
    doc="Token-budget waterfilling: given per-source token supplies, "
        "target mixture weights (rank-proportional), and a total "
        "budget (60% of supply), find the water level t where "
        "Σ min(supply_s, w_s·t) = budget and allocate — sources that "
        "can't fill their share saturate and the excess redistributes "
        "to the rest.  This is the mixture SOLVER (q97/q151/q198 "
        "apply fixed rates/budgets; this computes them).  Closed form, "
        "no iteration: sort sources by saturation ratio supply/w, "
        "prefix sums give each segment's candidate level "
        "t_k = (B − P_{k−1})·R/(R − C_{k−1}), and exactly one lands "
        "inside its segment.  ONE corpus pass builds the supplies; "
        "the whole solver runs on the |sources|-row frame.  All "
        "inputs to every double are exact integers with one "
        "multiply/divide chain, so both engines compare bit-identical "
        "doubles.",
    tags=("llm", "sampling", "corpus"),
)
def q233(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    t = F.trim(F.col("text"))
    sup = (
        d.filter(t != "")
        .select("source", F.size(F.split(t, " +")).cast("bigint").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("supply"))
    )
    rk = sup.select(
        "source", "supply",
        F.row_number().over(
            Window.orderBy(F.desc("supply"), "source")).cast("bigint")
        .alias("rank"),
    )
    tot = Window.partitionBy()
    b = rk.select(
        "source", "supply", "rank",
        F.sum("rank").over(tot).cast("bigint").alias("r_tot"),
        (F.sum("supply").over(tot) * _Q233_BUDGET_BPS / 10000)
        .cast("bigint").alias("budget"),
    )
    r = F.col("supply").cast("double") * F.col("r_tot") / F.col("rank")
    wseg = (
        Window.orderBy(r, "source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = b.select(
        "source", "supply", "rank", "r_tot", "budget", r.alias("r"),
        F.coalesce(F.sum("supply").over(wseg), F.lit(0)).cast("bigint")
        .alias("p_prev"),
        F.coalesce(F.sum("rank").over(wseg), F.lit(0)).cast("bigint")
        .alias("c_prev"),
    )
    wlag = Window.orderBy("r", "source")
    cand = seg.select(
        "*",
        ((F.col("budget") - F.col("p_prev")).cast("double") * F.col("r_tot")
         / (F.col("r_tot") - F.col("c_prev"))).alias("t"),
        F.lag("r").over(wlag).alias("r_prev"),
    )
    lvl = (
        cand.filter(
            (F.col("t") <= F.col("r"))
            & (F.col("r_prev").isNull() | (F.col("t") > F.col("r_prev"))))
        .agg(F.min("t").alias("t_star"))
    )
    alloc = F.least(
        F.col("supply").cast("double"),
        F.col("rank") * F.col("t_star") / F.col("r_tot"))
    return (
        seg.crossJoin(F.broadcast(lvl))
        .select(
            "source", "supply", F.col("rank").alias("weight_rank"),
            stable_round(alloc, 4).alias("alloc_tokens"),
            F.when(F.col("r") <= F.col("t_star"), 1).otherwise(0)
            .alias("saturated"),
        )
        .orderBy("source")
    )

"""Q227–Q231: association mining, integrity auditing, asymmetric
near-dup, grouped regression, and behavioral transition operators.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q227 (basket affinity) never materializes the item×item matrix —
  ONE basket-key exchange builds sorted per-order item arrays and the
  pair table is generated row-locally from them (Σ|basket|² with
  single-digit baskets, no self-join).  Item marginals and the basket
  count are dimension-sized broadcasts over the persisted basket
  frame.
* q228 (replica divergence) is the anti-entropy/Merkle pattern: ONE
  scan computes both replicas' per-partition checksums (integer sums
  of an engine-stable md5-prefix row hash), so diffing two 100 TB
  table generations ships |partitions| rows, never data.  Re-syncing
  then touches only the divergent partitions.
* q229 (containment) reuses the LSH candidate pipeline — containment
  is computed only on candidate pairs via row-local array_intersect,
  the asymmetric twin of q74's Jaccard verify (catches quote/subset
  duplication that symmetric Jaccard under-scores).
* q230 (grouped OLS) is closed-form: one map-side-combined groupBy
  carrying five sums; no window, no second pass, |groups| rows out.
* q231 (transition matrix) shuffles once on user_id for the lag; the
  conditional-probability normalizer is a window-sum over the
  already-aggregated |states|² table, never a second corpus pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators import dedup
from tidb_gateway_spark.operators.cache import tracked_persist
from tidb_gateway_spark.operators.dedup import DDB_BANDS, DDB_SHINGLES, DDB_SIGS
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.sampling import (
    ddb_hash_bps,
    ddb_hex_int,
    hash_bps,
    hex_int,
)
from tidb_gateway_spark.queries.registry import register

# ---------------------------------------------------------------- Q227
_Q227_TOPK = 15

_Q227_ORACLE = (
    "WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS item "
    "FROM lineitem JOIN part ON l_partkey = p_partkey), "
    "n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM baskets), "
    "items AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY item), "
    "pairs AS (SELECT x.item AS a, y.item AS b, CAST(COUNT(*) AS BIGINT) AS c_ab "
    "FROM baskets x JOIN baskets y ON x.ok = y.ok AND x.item < y.item "
    "GROUP BY 1, 2), "
    "scored AS (SELECT a, b, c_ab, "
    "CAST(n_baskets * c_ab AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE) AS lift, "
    "CAST(c_ab AS DOUBLE) / ia.c AS conf_ab, "
    "CAST(c_ab AS DOUBLE) / ib.c AS conf_ba "
    "FROM pairs JOIN items ia ON ia.item = pairs.a "
    "JOIN items ib ON ib.item = pairs.b CROSS JOIN n) "
    "SELECT a, b, c_ab, "
    "FLOOR(lift*1e6 + 0.5)/1e6 AS lift, "
    "FLOOR(conf_ab*1e6 + 0.5)/1e6 AS conf_ab, "
    "FLOOR(conf_ba*1e6 + 0.5)/1e6 AS conf_ba "
    f"FROM scored ORDER BY lift DESC, a, b LIMIT {_Q227_TOPK}"
)


@register(
    "q227_basket_pair_affinity",
    _Q227_ORACLE,
    doc="Market-basket pair mining (association rules): support, "
        "confidence both directions, and lift for co-purchased brand "
        "pairs, top-15 by lift.  ONE exchange builds per-basket sorted "
        "item arrays (collect_set folds the dedup in); pairs are "
        "generated ROW-LOCALLY from the sorted array — Σ|basket|² "
        "with single-digit baskets, no self-join, never item×item; "
        "item marginals (25 rows) and the basket count (1 row) are "
        "broadcasts.  Lift ordering is cross-engine exact: "
        "numerator/denominator are exact bigint products divided "
        "once, so both engines compare identical IEEE doubles.",
    tags=("analytics", "joins"),
)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    # ONE exchange total for basket construction: groupBy the basket
    # key collecting the sorted DISTINCT item set per order (the
    # separate .distinct() exchange folds into collect_set).  Pairs
    # are then generated ROW-LOCALLY from the sorted array — no
    # self-join, no second corpus exchange; sortedness gives a < b
    # for free.  The |orders|-sized basket frame feeds three branches
    # (pairs, marginals, basket count) → tracked_persist.
    baskets = tracked_persist(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("items"))
    )
    n = baskets.agg(F.count("*").cast("bigint").alias("n_baskets"))
    items = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item").agg(F.count("*").cast("bigint").alias("c"))
    )
    pair_arr = F.expr(
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), "
        "y -> struct(x AS a, y AS b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .select("pr.a", "pr.b")
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    ia = items.select(F.col("item").alias("a"), F.col("c").alias("ca"))
    ib = items.select(F.col("item").alias("b"), F.col("c").alias("cb"))
    scored = (
        pairs.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a", "b", "c_ab",
            ((F.col("n_baskets") * F.col("c_ab")).cast("double")
             / (F.col("ca") * F.col("cb")).cast("double")).alias("lift"),
            (F.col("c_ab").cast("double") / F.col("ca")).alias("conf_ab"),
            (F.col("c_ab").cast("double") / F.col("cb")).alias("conf_ba"),
        )
    )
    return (
        scored.orderBy(F.desc("lift"), "a", "b")
        .limit(_Q227_TOPK)
        .select(
            "a", "b", "c_ab",
            stable_round(F.col("lift"), 6).alias("lift"),
            stable_round(F.col("conf_ab"), 6).alias("conf_ab"),
            stable_round(F.col("conf_ba"), 6).alias("conf_ba"),
        )
    )


# ---------------------------------------------------------------- Q228
# Replica B: rows whose orderkey hashes under _Q228_BPS basis points
# get a corrupted status byte — a deterministic stand-in for bit rot /
# a partial write on one of two 100 TB table copies.
_Q228_BPS = 50

_Q228_KEY_A = (
    "CAST(o_orderkey AS VARCHAR) || '|' || "
    "CAST(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS VARCHAR) "
    "|| '|' || o_orderstatus"
)
_Q228_KEY_B = (
    "CAST(o_orderkey AS VARCHAR) || '|' || "
    "CAST(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS VARCHAR) "
    f"|| '|' || (CASE WHEN {ddb_hash_bps('o_orderkey', 'corrupt')} "
    f"< {_Q228_BPS} THEN 'X' "
    "ELSE o_orderstatus END)"
)

_Q228_ORACLE = (
    "WITH ck AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, "
    f"CAST({ddb_hex_int(f'md5({_Q228_KEY_A})', 1, 8)} AS BIGINT) AS ha, "
    f"CAST({ddb_hex_int(f'md5({_Q228_KEY_B})', 1, 8)} AS BIGINT) AS hb FROM orders), "
    "agg AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    "CAST(SUM(ha) AS BIGINT) AS ck_a, CAST(SUM(hb) AS BIGINT) AS ck_b, "
    "CAST(SUM(CASE WHEN ha <> hb THEN 1 ELSE 0 END) AS BIGINT) AS n_diff "
    "FROM ck GROUP BY month) "
    "SELECT month, n_rows, ck_a, ck_b, n_diff FROM agg "
    "WHERE ck_a <> ck_b ORDER BY month"
)


@register(
    "q228_replica_divergence_audit",
    _Q228_ORACLE,
    doc="Merkle-style anti-entropy audit between two generations of a "
        "table: per date-partition integer checksums (sum of an "
        "engine-stable md5-prefix row hash over the business columns, "
        "doubles canonicalized to cents first) flag exactly the "
        "partitions whose contents diverged, plus how many rows.  ONE "
        "scan computes both replicas' checksums (replica B's "
        "deterministic corruption stands in for a second physical "
        "copy); diffing two 100 TB copies ships |partitions| rows, "
        "never data, and re-sync touches only the flagged partitions.",
    tags=("governance", "integrity"),
)
def q228(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = ensure_min_partitions(load_table(spark, sf_dir, "orders"))
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    bps = hash_bps(F.col("o_orderkey"), "corrupt")
    status_b = F.when(bps < _Q228_BPS, F.lit("X")).otherwise(
        F.col("o_orderstatus"))
    key_a = F.concat_ws(
        "|", F.col("o_orderkey").cast("string"), cents.cast("string"),
        F.col("o_orderstatus"))
    key_b = F.concat_ws(
        "|", F.col("o_orderkey").cast("string"), cents.cast("string"),
        status_b)
    row_ck = lambda k: hex_int(F.md5(k), 1, 8)  # noqa: E731
    agg = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            row_ck(key_a).alias("ha"),
            row_ck(key_b).alias("hb"),
        )
        .groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("ha").cast("bigint").alias("ck_a"),
            F.sum("hb").cast("bigint").alias("ck_b"),
            F.sum(F.when(F.col("ha") != F.col("hb"), 1).otherwise(0))
            .cast("bigint").alias("n_diff"),
        )
    )
    return (
        agg.filter(F.col("ck_a") != F.col("ck_b"))
        .select("month", "n_rows", "ck_a", "ck_b", "n_diff")
        .orderBy("month")
    )


# ---------------------------------------------------------------- Q229
# Containment threshold: |A∩B| / min(|A|,|B|) — the asymmetric score
# that flags quote/subset duplication symmetric Jaccard under-scores
# (a 100-word doc fully embedded in a 1000-word doc has J ≈ 0.1 but
# containment 1.0).
_Q229_TAU = 0.6

_Q229_ORACLE = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x "
    "JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id), "
    "inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM cand c "
    "JOIN shingles wa ON wa.doc_id = c.a "
    "JOIN shingles wb ON wb.doc_id = c.b AND wb.w = wa.w GROUP BY c.a, c.b) "
    "SELECT t.a, t.b, "
    "FLOOR((CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE))*10000 + 0.5)/10000 AS jac, "
    "FLOOR((CAST(i AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE))*10000 + 0.5)/10000 AS containment "
    "FROM inter t JOIN sizes sa ON sa.doc_id = t.a "
    "JOIN sizes sb ON sb.doc_id = t.b "
    f"WHERE CAST(i AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) >= {_Q229_TAU} "
    "ORDER BY a, b"
)


@register(
    "q229_containment_neardup",
    _Q229_ORACLE,
    doc="Asymmetric (near-subset) duplicate detection: containment "
        "|A∩B| / min(|A|,|B|) ≥ 0.6 over the q72 LSH candidate pairs, "
        "reported beside symmetric Jaccard — catches quoted/embedded "
        "passages that Jaccard under-scores (a doc fully contained in "
        "a 10× larger one has J ≈ 0.1 but containment 1.0).  Same "
        "scale shape as q74: containment is computed only on LSH "
        "candidates via row-local array_intersect (|cand| + 2·|docs| "
        "rows shuffled, never corpus²).",
    tags=("dedup", "llm", "minhash"),
)
def q229(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(d)
    arrs = dedup.doc_shingle_arrays(d)
    a_arr = arrs.select(F.col("doc_id").alias("a"), F.col("sharr").alias("sa"))
    b_arr = arrs.select(F.col("doc_id").alias("b"), F.col("sharr").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb")).cast("double")
    union_sz = (F.size("sa") + F.size("sb")).cast("double") - i
    min_sz = F.least(F.size("sa"), F.size("sb")).cast("double")
    return (
        cand.join(a_arr, "a")
        .join(b_arr, "b")
        .select(
            "a", "b",
            (i / union_sz).alias("jac_raw"),
            (i / min_sz).alias("cont_raw"),
        )
        .filter(F.col("cont_raw") >= _Q229_TAU)
        .select(
            "a", "b",
            stable_round(F.col("jac_raw"), 4).alias("jac"),
            stable_round(F.col("cont_raw"), 4).alias("containment"),
        )
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------- Q230
# Center x on a fixed constant (2024-01-15) so the closed-form OLS
# sums stay well-conditioned (|x| ≤ tens of days, not 1.7e9 s): the
# n·Σx² − (Σx)² cancellation is harmless at these magnitudes, and the
# centering constant cancels out of the slope entirely.
_Q230_X0_US = 1_705_276_800_000_000  # epoch micros of 2024-01-15

_Q230_ORACLE = (
    "WITH pts AS (SELECT event_type, "
    f"CAST(epoch_us(ts) - {_Q230_X0_US} AS DOUBLE) / 86400000000.0 AS x, "
    "value AS y FROM events), "
    "s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy "
    "FROM pts GROUP BY event_type) "
    "SELECT event_type, n, "
    "FLOOR(((n*sxy - sx*sy) / (n*sxx - sx*sx))*1e6 + 0.5)/1e6 AS slope, "
    "FLOOR(((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx))*sx) / n)*1e6 + 0.5)/1e6 "
    "AS intercept FROM s ORDER BY event_type"
)


@register(
    "q230_grouped_ols_trend",
    _Q230_ORACLE,
    doc="Per-group closed-form OLS trend (slope + intercept of metric "
        "value over event time, per event type) — the grouped "
        "regression a metrics platform runs per series.  ONE "
        "map-side-combined groupBy carries five sums (n, Σx, Σy, Σx², "
        "Σxy); no window, no second pass, |groups| rows out.  x is "
        "epoch-micros centered on a fixed constant and scaled to days so "
        "the normal-equation cancellation is well-conditioned; both "
        "engines evaluate the identical IEEE expression (rounded 1e-6 "
        "against double-sum order divergence ~1e-13).",
    tags=("analytics", "statistics"),
)
def q230(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "events"))
    x = ((F.unix_micros("ts") - F.lit(_Q230_X0_US)).cast("double")
         / F.lit(86400000000.0))
    s = (
        e.select("event_type", x.alias("x"), F.col("value").alias("y"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "event_type", "n",
        stable_round(slope, 6).alias("slope"),
        stable_round(intercept, 6).alias("intercept"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- Q231
_Q231_ORACLE = (
    "WITH seq AS (SELECT user_id, event_type, "
    "LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "AS prev FROM events), "
    "tr AS (SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) "
    "AS c FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2), "
    "tot AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS t FROM tr GROUP BY prev) "
    "SELECT tr.prev, tr.next, tr.c, "
    "FLOOR((CAST(tr.c AS DOUBLE) / tot.t)*1e6 + 0.5)/1e6 AS p "
    "FROM tr JOIN tot ON tot.prev = tr.prev ORDER BY tr.prev, tr.next"
)


@register(
    "q231_markov_transition_matrix",
    _Q231_ORACLE,
    doc="First-order Markov transition matrix over per-user event "
        "sequences: P(next | prev) for every state pair, with counts. "
        "ONE shuffle on user_id feeds the lag window; the row "
        "normalizer is a window-sum over the already-aggregated "
        "|states|² table — no join, nothing re-derives the corpus "
        "pipeline (the conditional probability is an exact-integer "
        "division, so both engines emit bit-identical doubles).  The behavioral counterpart of "
        "q152's bigram LM (words) and q134's path prefixes (full "
        "paths): this is the stationary-flow view product analytics "
        "builds funnels from.",
    tags=("analytics", "events"),
)
def q231(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev"))
    tr = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # Normalizer as a window-sum over the ALREADY-AGGREGATED |states|²
    # transition table (25 rows) — a broadcast-join normalizer would
    # statically re-derive the whole lag pipeline for its build side.
    t = F.sum("c").over(Window.partitionBy("prev"))
    return (
        tr.select(
            "prev", "next", "c",
            stable_round(F.col("c").cast("double") / t, 6).alias("p"),
        )
        .orderBy("prev", "next")
    )

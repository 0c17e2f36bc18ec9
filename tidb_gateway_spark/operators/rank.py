"""Scalable global ranking (ROW_NUMBER / RANK / DENSE_RANK / NTILE).

A vanilla ``Window.orderBy(...)`` with no partition key moves ALL rows
to one partition — correct, but a single-machine bottleneck that defeats
the cluster at 100 TB (Spark even warns).  The scalable formulation is
the classic two-pass range-bucketed rank:

1. compute range-bucket boundaries for the leading sort key ONCE
   (approx-percentile collect, #partitions scalars) and embed them as
   literals, making bucket assignment a pure deterministic expression;
2. rank within each bucket (``Window.partitionBy(bucket)`` — cheap,
   bucket-local sort);
3. compute per-bucket row counts, prefix-sum them on the driver
   (#buckets values, not rows), and add each bucket's offset.

Why not ``repartitionByRange`` + ``spark_partition_id``: range-exchange
boundaries are re-SAMPLED on every execution (empirically
non-deterministic across jobs of the same session), so a counts job and
the final job can disagree about which partition a row lands in —
producing corrupted offsets.  Literal boundaries make every execution
agree by construction.

Ties on the leading key all land in the same bucket (boundary
comparisons are strict), so a non-unique leading key is safe; include a
unique tiebreak in ``order_cols`` for deterministic output.  A single
hot leading-key value collapses into one bucket — the same skew
exposure RangePartitioner has; mitigate by choosing a higher-resolution
leading key.

These operators are wired into the declared global-window queries
(q32/q37 in queries/windows.py) so the plan the engine ships is the one
you'd run at scale; tests/test_plans.py asserts their physical plans
contain no single-partition window exchange, and tests/test_operators.py
asserts value equivalence with the vanilla window forms.

Building a ranked DataFrame triggers two eager metadata-sized jobs (the
boundary quantiles and the per-bucket counts — scalars, never rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tidb_gateway_spark.operators.partitioning import session_parallelism

_NUMERIC_KINDS = (
    "int", "bigint", "smallint", "tinyint", "float", "double", "decimal"
)


def _norm_keys(order_cols: list) -> list[tuple[str, bool]]:
    """Normalize order_cols entries to (column_name, descending).

    Accepted entry forms: ``"name"`` (ascending) or ``("name", "desc")``
    / ``("name", "asc")``.
    """
    keys: list[tuple[str, bool]] = []
    for c in order_cols:
        if isinstance(c, str):
            keys.append((c, False))
        elif isinstance(c, (tuple, list)) and len(c) == 2:
            keys.append((c[0], str(c[1]).lower() == "desc"))
        else:
            raise TypeError(
                f"order_cols entries must be 'name' or ('name', 'asc'|'desc'); got {c!r}"
            )
    return keys


def _sort_exprs(keys: list[tuple[str, bool]]) -> list[Column]:
    return [F.col(n).desc() if d else F.col(n).asc() for n, d in keys]


def _order_surrogate(name: str, dtype: str) -> Column | None:
    """An order-preserving numeric proxy of the leading sort key, used
    only for BUCKETING (rows with equal proxies tie into the same
    bucket, which is always safe — the in-bucket window sorts exactly).

    numeric → itself; string → first 7 UTF-8 bytes as a bigint
    (truncate-then-right-pad keeps binary/lexicographic order);
    date/timestamp → epoch seconds.  Unsupported types → None (single
    bucket).
    """
    col = F.col(name)
    if dtype.startswith(_NUMERIC_KINDS):
        return col
    if dtype == "string":
        hex14 = F.rpad(F.substring(F.hex(F.encode(col, "UTF-8")), 1, 14), 14, "0")
        return F.conv(hex14, 16, 10).cast("bigint")
    if dtype in ("date", "timestamp", "timestamp_ntz"):
        return col.cast("timestamp").cast("double")
    if dtype == "boolean":
        return col.cast("int")
    return None


# Memoized bucket boundaries, keyed by the plan's semantic hash.  This
# is a stats cache with stale-stats semantics: boundaries influence only
# bucket BALANCE — correctness comes from the exact per-bucket counts
# (recomputed every execution) plus the literal assignment expression —
# so serving week-old quantiles can skew buckets but never ranks.  Saves
# one full job per repeat build (bench re-runs, repeated gateway
# queries); a real deployment would hydrate this from ANALYZE stats.
# Bounded: a long-running gateway serving many distinct plans (LOAD
# DATA views, varying filters) must not grow it without limit — evict
# oldest-inserted past the cap (dict preserves insertion order).
# NOTE for bench readers: best-of-N ranked-query timings measure the
# warm path, i.e. exclude the one-off boundary job (BASELINE.md).
_BOUNDARY_CACHE_MAX = 64
_boundary_cache: dict[tuple, list] = {}


def _app_token(spark) -> str:
    """Application identity for cache keys, Connect-safe: applicationId
    where a SparkContext exists, the server-reported app id conf under
    Connect, else the client session object identity."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        try:
            return spark.conf.get("spark.app.id")
        except Exception:
            return f"session-{id(spark)}"


def _bucket_bounds(df: DataFrame, leading: tuple[str, bool],
                   parts: int) -> list | None:
    """Literal range-bucket boundaries for the leading sort key:
    approx-percentiles of its order-preserving numeric surrogate,
    computed once per (app, plan) and memoized (stale-stats semantics —
    boundaries set bucket BALANCE only).  ``None`` → single bucket
    (no surrogate, or parts ≤ 1).  The returned list is sorted in the
    key's sort direction, duplicates removed.
    """
    name, desc = leading
    dtype = dict(df.dtypes)[name]
    skey = _order_surrogate(name, dtype)
    if parts <= 1 or skey is None:
        return None
    try:
        ck = (_app_token(df.sparkSession),
              df.semanticHash(), name, desc, parts)
    except Exception:
        ck = None
    qs = _boundary_cache.get(ck) if ck is not None else None
    if qs is None:
        probs = [i / parts for i in range(1, parts)]
        # accuracy 1000 not 10000: boundaries only set bucket BALANCE
        # (ranks are exact either way), and QuantileSummaries cost grows
        # with accuracy — measured 4.3 s vs 0.8 s on 1.5M rows for
        # near-identical boundaries.
        row = df.select(
            F.percentile_approx(
                skey, F.array(*[F.lit(p) for p in probs]), F.lit(1000)
            ).alias("q")
        ).collect()[0]
        qs = [v for v in (row["q"] or []) if v is not None]
        if ck is not None:
            while len(_boundary_cache) >= _BOUNDARY_CACHE_MAX:
                _boundary_cache.pop(next(iter(_boundary_cache)))
            _boundary_cache[ck] = qs
    bounds = sorted(set(qs), reverse=desc)
    return bounds or None


def _bucket_assign(df: DataFrame, leading: tuple[str, bool],
                   bounds: list | None) -> Column:
    """Bucket id = #boundaries strictly before the key in sort order,
    as a codegen'd sum of comparison casts.

    The r14.0 higher-order form (``size(filter(<array>, b -> key > b))``)
    avoided a feared per-plan Janino compile, but HOF lambdas execute
    INTERPRETED per element — measured 1.51 s vs 0.74 s for this
    sum-of-casts form on the sf3 scan+agg (18M rows × 31 bounds), a
    per-row cost that grows with data while a compile is a constant;
    re-measured clean, the 31-term comparison chain compiles in well
    under 200 ms (the r14.0 "2 s Janino" reading was taken inside a
    host contention window).  Comparison casts are branch-free adds in
    the generated code, and whole-stage codegen's subexpression
    elimination evaluates a non-trivial surrogate (string keys) once
    per row.
    """
    name, desc = leading
    if not bounds:
        return F.lit(0)
    dtype = dict(df.dtypes)[name]
    skey = _order_surrogate(name, dtype)
    col = F.col(name)
    if desc:
        expr = sum(((skey < F.lit(b)).cast("int") for b in bounds),
                   F.lit(0))
        # desc ordering puts NULLs last in Spark
        return F.when(col.isNull(), F.lit(len(bounds))).otherwise(expr)
    expr = sum(((skey > F.lit(b)).cast("int") for b in bounds), F.lit(0))
    # asc ordering puts NULLs first
    return F.when(col.isNull(), F.lit(0)).otherwise(expr)


def _bucket_expr(df: DataFrame, leading: tuple[str, bool],
                 parts: int) -> Column:
    """Deterministic range-bucket id (0-based, ordered like the sort).

    Boundaries are approx-percentiles of the leading key (via its
    order-preserving numeric surrogate), computed once and baked in as
    literals, so every execution assigns identical buckets.
    """
    return _bucket_assign(df, leading, _bucket_bounds(df, leading, parts))


def _ranked(df: DataFrame, order_cols: list, out_col: str,
            num_partitions: int | None) -> tuple[DataFrame, int]:
    """Range-bucketed global row_number; returns (df, total_rows)."""
    keys = _norm_keys(order_cols)
    parts = num_partitions or session_parallelism(df.sparkSession)
    bucketed = df.withColumn("_bucket", _bucket_expr(df, keys[0], parts))
    w = Window.partitionBy("_bucket").orderBy(*_sort_exprs(keys))
    local = bucketed.withColumn("_local_rn", F.row_number().over(w))
    # per-bucket counts: #buckets rows to the driver, not data.  Bucket
    # assignment is a deterministic literal expression, so this job and
    # the final execution agree by construction.
    counts = {
        r["_bucket"]: r["n"]
        for r in bucketed.groupBy("_bucket").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    offset_col = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )[F.col("_bucket")]
    out = (
        local.withColumn(out_col, (F.col("_local_rn") + offset_col).cast("int"))
        .drop("_bucket", "_local_rn")
    )
    return out, acc


def global_row_number(df: DataFrame, order_cols: list, out_col: str = "rn",
                      num_partitions: int | None = None) -> DataFrame:
    """Exact global ROW_NUMBER over ``order_cols`` without a
    single-partition window.

    ``order_cols``: list of ``"name"`` / ``("name", "desc")`` entries;
    must be a total order (include a unique tiebreak) for deterministic
    output.  With a total order this is also exact RANK (ties are
    impossible, so RANK == ROW_NUMBER).
    """
    return _ranked(df, order_cols, out_col, num_partitions)[0]


def global_dense_rank(df: DataFrame, key_cols: list[str],
                      order_cols: list | None = None, out_col: str = "dr",
                      num_partitions: int | None = None,
                      broadcast_keys: bool = True) -> DataFrame:
    """Exact global DENSE_RANK over ``key_cols`` without a
    single-partition window.

    DENSE_RANK depends only on the *distinct* ordering keys, so rank the
    distinct-key set (usually ≪ rows; one hot key collapses to one row,
    making this skew-immune) and join the ranks back.  ``order_cols``
    defaults to ascending ``key_cols``; pass ``("name", "desc")``
    entries for descending semantics.  The join side is broadcast by
    default — set ``broadcast_keys=False`` when the distinct-key set is
    itself huge and let AQE pick the strategy.
    """
    keys = df.select(*key_cols).distinct()
    ranked = global_row_number(keys, order_cols or list(key_cols), out_col,
                               num_partitions)
    # Null-safe equi-join: DENSE_RANK ranks NULL keys too (nulls-first
    # asc); a plain equi-join would silently drop rows whose key is NULL
    # (NULL != NULL in join conditions).  eqNullSafe (<=>) stays a
    # hash-joinable equi-condition, so broadcast still applies.
    ranked = ranked.select(
        *[F.col(c).alias(f"_rk_{c}") for c in key_cols], out_col
    )
    if broadcast_keys:
        ranked = F.broadcast(ranked)
    cond = None
    for c in key_cols:
        clause = F.col(c).eqNullSafe(F.col(f"_rk_{c}"))
        cond = clause if cond is None else (cond & clause)
    return df.join(ranked, cond).drop(*[f"_rk_{c}" for c in key_cols])


def global_ntile(df: DataFrame, n: int, order_cols: list,
                 out_col: str = "q",
                 num_partitions: int | None = None) -> DataFrame:
    """Exact global NTILE(n) over ``order_cols`` without a
    single-partition window.

    Standard SQL tile semantics: with N total rows, the first N mod n
    tiles get ceil(N/n) rows, the rest floor(N/n).  The tile is a pure
    arithmetic function of the global row number and N (a driver-side
    scalar from the ranking pass), so no second shuffle is needed.
    ``order_cols`` must be a total order for deterministic assignment.
    """
    ranked, total = _ranked(df, order_cols, "_rn", num_partitions)
    base, rem = divmod(total, n)
    rn = F.col("_rn")
    if base == 0:
        # fewer rows than tiles: row i goes to tile i
        tile = rn
    else:
        boundary = rem * (base + 1)
        tile = F.when(
            rn <= F.lit(boundary),
            F.floor((rn - 1) / F.lit(base + 1)) + 1,
        ).otherwise(
            F.lit(rem) + F.floor((rn - F.lit(boundary) - 1) / F.lit(base)) + 1
        )
    return ranked.withColumn(out_col, tile.cast("int")).drop("_rn")


def grouped_exact_median(df: DataFrame, group_col: str, value_col: str,
                         tiebreak_col: str,
                         num_partitions: int | None = None) -> DataFrame:
    """Exact per-group median without per-group sorts — the grouped
    form of the two-pass rank pattern, for LOW-CARDINALITY groups.

    A ``Window.partitionBy(group)`` sorts each group in ONE task, so
    parallelism = #groups: five order priorities over a 100 TB table
    means five tasks sorting 20 TB each.  This form restores full
    parallelism, in ONE declarative plan (no driver collect):

    1. range-bucket the VALUE with the same literal-boundary
       expression the global ranks use (approx-quantile boundaries —
       exactness never depends on them; only the boundary stats
       themselves are driver-cached, as for every rank operator);
    2. aggregate per-(group, bucket) counts — a metadata-sized table
       (|groups|·|buckets| rows) — and derive each group's total and
       each bucket's starting offset with windows OVER THAT TINY
       TABLE (partitioned by group — never single-partition over
       data);
    3. broadcast-join the rows against only the 1–2 target buckets
       per group that can contain a middle rank: the window sorts a
       ~1/parts slice per group and every other row dies at the join;
    4. median = AVG of the one or two middle values.

    Returns (group_col, n, median_raw) — median_raw is the unrounded
    double; callers own the declared rounding.
    """
    keys = _norm_keys([value_col, tiebreak_col])
    parts = num_partitions or session_parallelism(df.sparkSession)
    # ONE data exchange feeds both branches: repartition on
    # (group, bucket) satisfies the count aggregate's clustering AND
    # the local window's partitioning, so the count branch and the
    # rank branch share the exchange via ReuseExchange — one scan of
    # the table, not two (the q194 single-exchange lesson).
    bucketed = df.withColumn(
        "_bucket", _bucket_expr(df, keys[0], parts)
    ).repartition(group_col, "_bucket")

    cnt = bucketed.groupBy(group_col, "_bucket").agg(F.count("*").alias("_n"))
    wg = Window.partitionBy(group_col).orderBy("_bucket")
    wt = Window.partitionBy(group_col)
    stats = (
        cnt.withColumn("_off", F.sum("_n").over(wg) - F.col("_n"))
        .withColumn("_tot", F.sum("_n").over(wt))
        .withColumn("_m1", F.floor((F.col("_tot") + 1) / 2))
        .withColumn("_m2", F.floor((F.col("_tot") + 2) / 2))
    )
    lo, hi = F.col("_off") + 1, F.col("_off") + F.col("_n")
    targets = stats.filter(
        ((lo <= F.col("_m1")) & (F.col("_m1") <= hi))
        | ((lo <= F.col("_m2")) & (F.col("_m2") <= hi))
    ).select(group_col, "_bucket", "_off", "_tot", "_m1", "_m2")

    w = Window.partitionBy(group_col, "_bucket").orderBy(*_sort_exprs(keys))
    mid = (
        bucketed.join(F.broadcast(targets), [group_col, "_bucket"])
        .withColumn("_rn", F.row_number().over(w) + F.col("_off"))
        .filter((F.col("_rn") == F.col("_m1"))
                | (F.col("_rn") == F.col("_m2")))
    )
    return (
        mid.groupBy(group_col)
        .agg(
            F.max("_tot").cast("bigint").alias("n"),
            F.avg(value_col).alias("median_raw"),
        )
        .select(group_col, "n", "median_raw")
    )


def grouped_weighted_percentiles(df: DataFrame, group_col: str,
                                 value_col: str, weight_col: str,
                                 pcts: list[int],
                                 num_partitions: int | None = None,
                                 ) -> DataFrame:
    """Exact per-group WEIGHTED percentile vector without per-group
    sorts — :func:`grouped_exact_median` generalized to integer
    weights and multiple percentiles (the P99-SLA shape).

    ``weight_col`` must be an integral type (the weights are row
    multiplicities); a fractional weight column raises ``ValueError``
    rather than silently truncating per row.

    The aggregate-then-window form (cumulative weights over the
    (group, value) frame, ``Window.partitionBy(group)``) is exact but
    sorts each group's distinct values in ONE task — for a near-unique
    value column that is the whole group single-task again.  This form
    restores full parallelism and touches the raw table exactly TWICE:

    1. range-bucket the value map-side with literal boundaries
       (stats-cached, exactness never depends on them) and aggregate
       per-(group, bucket) weight sums — scan 1, exchanging only
       map-side-combined partials (|groups|×|buckets| rows);
    2. fold that metadata-sized table on the DRIVER (exact Python
       integer math): per-group prefix sums give each bucket's weight
       offset, and for each percentile p exactly ONE bucket per group
       contains the crossing (100·off < p·W ≤ 100·(off+wn));
    3. turn the folded target rows into LITERAL (group, value-range)
       filters on the probe side (scan 2), so no lineage re-executes
       the stats pass (the r13 form re-ran the whole scan+agg+window
       inside a broadcast build: three full scans per execution, q240
       4.1× DuckDB at sf3 isolated);
    4. the lower weighted percentile (min v with 100·cumw ≥ p·W, the
       q240/q245 contract) falls out of a bucket-local cumulative
       window over the surviving ~1/|buckets| row fraction.

    Returns (group_col, w_total, p<pct>...) with the value column's
    type preserved; empty, with that schema, when no group has a
    positive weight.  Builds run one eager metadata-sized job (the
    (group, bucket) sums, |groups|×|buckets| rows).  The literal
    filters grow with |groups|·|pcts|, so the group column must be
    low-cardinality (q240 groups by ``l_returnflag``: 3 values).
    100 TB shape: both scans are map-side column-pruned passes;
    nothing corpus-sized ever shuffles, the driver only ever sees
    (group, bucket) partials.

    Reserved names: the plan adds the intermediate columns ``_w``,
    ``_bucket``, ``_wn``, ``_off``, ``_tot``, ``_wv`` and ``_cumw``
    beside ``group_col`` and ``value_col``, so neither of those two
    may carry one of these names.
    """
    wtype = dict(df.dtypes)[weight_col]
    if wtype not in ("boolean", "tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"grouped_weighted_percentiles: weight column {weight_col!r} "
            f"has non-integral type {wtype}; weights are row "
            "multiplicities — cast explicitly (and decide the rounding) "
            "before calling")
    parts = num_partitions or session_parallelism(df.sparkSession)
    raw0 = df.select(
        group_col, value_col,
        F.col(weight_col).cast("bigint").alias("_w"))
    bounds = _bucket_bounds(raw0, (value_col, False), parts)
    raw = raw0.withColumn(
        "_bucket", _bucket_assign(raw0, (value_col, False), bounds))
    cnt = raw.groupBy(group_col, "_bucket").agg(F.sum("_w").alias("_wn"))
    # No LIMIT guard on the collect: CollectLimitExec's incremental
    # partition strategy costs ~0.5 s of sequential stages against this
    # 0.07 s aggregate (measured, sf3).  The plain Arrow collect is
    # |groups|×|buckets| small rows.
    tbl = cnt.toArrow()
    gvals = tbl.column(group_col).to_pylist()
    bvals = tbl.column("_bucket").to_pylist()
    wvals = tbl.column("_wn").to_pylist()
    per_group: dict = {}
    for g, b, wn in zip(gvals, bvals, wvals):
        per_group.setdefault(g, []).append((b, wn or 0))
    target_rows = []
    for g, lst in per_group.items():
        lst.sort()
        tot = sum(wn for _, wn in lst)
        off = 0
        for b, wn in lst:
            if any(100 * off < p * tot <= 100 * (off + wn)
                   for p in pcts):
                target_rows.append((g, b, off, tot))
            off += wn
    return _gwp_crossing_ranges(
        raw0, group_col, value_col, pcts, target_rows, bounds)


def _gwp_crossing_ranges(raw0: DataFrame, group_col: str, value_col: str,
                         pcts: list[int], target_rows: list,
                         bounds: list | None) -> DataFrame:
    """Crossing pass over the folded ``(group, bucket, off, tot)``
    targets.

    Instead of re-deriving every probe row's bucket (a |bounds|-term
    comparison chain over the whole second scan) and broadcast-joining
    the target table, the folded targets become a filter of
    (group, value-range) disjuncts — two comparisons per target — and
    ``_bucket``/``_off``/``_tot`` attach as literal when-chains over
    the same predicates.  bucket(v) == b is exactly
    ``bounds[b-1] < skey(v) <= bounds[b]`` (asc; NULLs land in bucket
    0), and the group match is null-safe, so NULL groups are kept as
    GROUP BY keeps them.  On a numeric value column the range bounds
    are plain comparisons on the scanned column — pushable to parquet
    row-group stats on clustered layouts (guide §6) — measured 0.24 s
    vs 1.5 s for the sf3 probe scan.  The chains grow with the target
    count (at most |groups|·|pcts|), so this form suits the
    low-cardinality group columns the registry uses.  With no target
    (every weight 0) no row is kept and the result is empty.

    The surviving rows aggregate to (group, value) weight sums and each
    percentile is read off the bucket-local cumulative window.  ONE
    exchange serves both the (…, value) aggregate and the cumulative
    window: hash-partitioning on (group, _bucket) is a subset of the
    aggregate's grouping keys (ClusteredDistribution satisfied — no agg
    exchange) and exactly the window's partitioning (Sort only, no
    second exchange).  A near-unique value column means map-side
    partials barely combine, so aggregating first would shuffle the
    same rows and then pay a SECOND full exchange to regroup for the
    window (guide §2.4: two operations keyed the same way share one
    exchange).
    """
    dtype = dict(raw0.dtypes)[value_col]
    skey = _order_surrogate(value_col, dtype)
    gtype = raw0.schema[group_col].dataType
    col = F.col(value_col)
    n = len(bounds) if bounds else 0

    def in_bucket(b: int) -> Column:
        if n == 0:
            return F.lit(True)
        if b <= 0:
            return col.isNull() | (skey <= F.lit(bounds[0]))
        if b >= n:
            return skey > F.lit(bounds[n - 1])
        return (skey > F.lit(bounds[b - 1])) & (skey <= F.lit(bounds[b]))

    gc = F.col(group_col)
    preds = [
        (gc.eqNullSafe(F.lit(g).cast(gtype)) & in_bucket(b), b, off, tot)
        for (g, b, off, tot) in target_rows
    ] or [(F.lit(False), 0, 0, 0)]
    keep = preds[0][0]
    for p, _, _, _ in preds[1:]:
        keep = keep | p
    bexpr = oexpr = texpr = None
    for p, b, off, tot in preds:
        bexpr = F.when(p, F.lit(b)) if bexpr is None else bexpr.when(p, F.lit(b))
        oexpr = F.when(p, F.lit(off)) if oexpr is None else oexpr.when(p, F.lit(off))
        texpr = F.when(p, F.lit(tot)) if texpr is None else texpr.when(p, F.lit(tot))
    flt = (
        raw0.filter(keep)
        .withColumn("_bucket", bexpr.cast("int"))
        .withColumn("_off", oexpr.cast("bigint"))
        .withColumn("_tot", texpr.cast("bigint"))
    )
    wloc = (
        Window.partitionBy(group_col, "_bucket").orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mid = (
        flt.repartition(
            session_parallelism(flt.sparkSession), group_col, "_bucket")
        .groupBy(group_col, "_bucket", "_off", "_tot", value_col)
        .agg(F.sum("_w").alias("_wv"))
        .withColumn("_cumw", F.sum("_wv").over(wloc) + F.col("_off"))
    )
    aggs = [F.max("_tot").cast("bigint").alias("w_total")]
    for p in pcts:
        aggs.append(
            F.min(
                F.when(100 * F.col("_cumw") >= p * F.col("_tot"),
                       F.col(value_col))
            ).alias(f"p{p}")
        )
    return mid.groupBy(group_col).agg(*aggs)

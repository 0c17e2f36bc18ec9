"""Plan-quality tests: the properties that matter at 100 TB, asserted on
the physical plans of the declared queries (brief: '.explain the plan
and iterate until it's the plan you'd want')."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.plans import inspect
from tidb_gateway_spark.queries import REGISTRY


def _plan_tree(text: str) -> str:
    """The numbered tree section of a formatted explain (each node
    printed ONCE) — the details section below the blank line repeats
    every node name, so substring counts over the full text are
    inflated 2x and ordering tests are unreliable there."""
    return text.split("\n\n")[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    pf = inspect.pushed_filters(df)
    assert any("l_quantity" in f for f in pf), pf


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    df = REGISTRY["q39_topk"].spark(spark, sf_dir)
    schemas = inspect.read_schema_columns(df)
    assert schemas, "no parquet scan found"
    for cols in schemas:
        assert len(cols) <= 3, f"scan reads too many columns: {cols}"


def test_date_filter_pushdown_q22(spark, sf_dir):
    df = REGISTRY["q22_tpch_q1_agg"].spark(spark, sf_dir)
    schemas = inspect.read_schema_columns(df)
    # 6 needed columns of 11 — pruning evidence for the flagship query
    assert all(len(cols) <= 6 for cols in schemas), schemas


def test_dimension_join_broadcasts(spark, sf_dir):
    df = REGISTRY["q11_multiway_join"].spark(spark, sf_dir)
    assert inspect.has_broadcast_join(df)


def test_semi_join_stays_semi(spark, sf_dir):
    df = REGISTRY["q15_left_semi_join"].spark(spark, sf_dir)
    assert "LeftSemi" in inspect.explain_formatted(df)


def test_theta_join_is_hash_not_nested_loop(spark, sf_dir):
    """q18 has an equi component — must plan as a hash join (broadcast or
    sort-merge), never BroadcastNestedLoop."""
    df = REGISTRY["q18_theta_join"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "NestedLoop" not in text, text


def test_flagship_agg_has_codegen_and_partial_agg(spark, sf_dir):
    df = REGISTRY["q22_tpch_q1_agg"].spark(spark, sf_dir)
    assert inspect.has_whole_stage_codegen(df)
    text = inspect.explain_formatted(df)
    assert text.count("HashAggregate") >= 2, "expected partial+final aggregation"


def test_topk_never_global_sorts(spark, sf_dir):
    df = REGISTRY["q39_topk"].spark(spark, sf_dir)
    assert "TakeOrderedAndProject" in inspect.explain_formatted(df)


def test_global_window_queries_have_no_single_partition_sort(spark, sf_dir):
    """q32/q37 (global rank / ntile) route through the two-pass
    range-partitioned operators: their physical plans must not contain
    a single-partition exchange (the 100×-scale killer a bare
    Window.orderBy would introduce)."""
    for qid in ("q32_rank_dense_rank", "q37_ntile", "q191_equidepth_binning"):
        df = REGISTRY[qid].spark(spark, sf_dir)
        text = inspect.explain_formatted(df)
        assert "SinglePartition" not in text, f"{qid}: {text}"


def test_q75_argmax_is_partial_aggregate_not_window(spark, sf_dir):
    """q75's per-probe argmax must be a partial-aggregable max(struct)
    — partial+final aggregation (SortAggregate: struct max can't use
    hash-agg buffers, but each map task still reduces to ≤20 rows before
    the shuffle), no Window over corpus-sized qid partitions."""
    df = REGISTRY["q75_cosine_nearest_neighbor"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "Window" not in text, text
    n_aggs = text.count("HashAggregate") + text.count("SortAggregate")
    assert n_aggs >= 2, text


def test_q76_ann_index_partition_prunes(spark, sf_dir):
    """q76 must serve from the materialized bucketed index with the
    query's bucket id as a PartitionFilter — the scan touches one
    partition (corpus/2^p rows), never the whole corpus.  This is the
    100 TB contract: bucket id = index table partition key."""
    df = REGISTRY["q76_ann_lsh_bucket"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "ann_index" in text, "q76 does not read the materialized index"
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "bucket" in m.group(1) and "=" in m.group(1), text


def test_cbo_join_reorder_uses_analyze_stats(spark, sf_dir):
    """End-to-end CBO evidence (TODO.md): the SAME 3-way join plans in
    syntactic left-deep order without statistics, and is REORDERED by
    the cost-based optimizer once ANALYZE TABLE stats exist — the
    selective customer⋈nation pair joins first, shrinking the
    intermediate that meets fact-sized orders."""
    import re
    import uuid

    from tidb_gateway_spark.catalog import promote_to_catalog_table

    db = f"cbodemo_{uuid.uuid4().hex[:8]}"
    try:
        for t in ("orders", "customer", "nation"):
            promote_to_catalog_table(spark, sf_dir, t, db)
        sql = (
            f"SELECT o.o_orderkey FROM {db}.orders o "
            f"JOIN {db}.customer c ON o.o_custkey = c.c_custkey "
            f"JOIN {db}.nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_name = 'KENYA'"
        )

        def scan_order(df):
            return re.findall(
                r"Location.*/(\w+)\.parquet", inspect.explain_formatted(df))

        before = scan_order(spark.sql(sql))
        assert before == ["orders", "customer", "nation"], before
        for t in ("orders", "customer", "nation"):
            spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS")
            spark.sql(
                f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS FOR ALL COLUMNS")
        after = scan_order(spark.sql(sql))
        assert after == ["customer", "nation", "orders"], after
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_q94_ivf_index_partition_prunes(spark, sf_dir):
    """q94 must serve from the materialized IVF index with the probe
    cells as a PartitionFilter (cell IN (...)) — scan cost is
    nprobe/n_cells of the corpus."""
    df = REGISTRY["q94_ivf_ann"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "cell" in m.group(1), text


def test_no_rowudf_in_declared_plans(spark, sf_dir):
    """Declared queries must stay JVM-side: no row-at-a-time Python
    UDFs in any plan (the multimodal stages' Arrow-batched mapInPandas
    — q81 decode, q108 feature extract, q109 frame sample — are the
    only sanctioned Python stages)."""
    for qid, spec in REGISTRY.items():
        df = spec.spark(spark, sf_dir)
        text = inspect.explain_formatted(df)
        assert "BatchEvalPython" not in text, f"{qid} uses a row Python UDF"


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed on the join key at write
    time -> the sort-merge join reads bucket-aligned data with NO
    Exchange on either side (the 100 TB answer for fact-fact joins
    repeatedly keyed the same way; sources/io.py:write_bucketed_table).
    With per-bucket sortBy on the key, the join-side Sorts are
    satisfied by the storage layout too."""
    from tidb_gateway_spark.sources.io import write_bucketed_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(o, "b_orders", ["o_orderkey"], 8,
                         path=str(tmp_path / "bo"), sort_cols=["o_orderkey"])
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8,
                         path=str(tmp_path / "bl"), sort_cols=["l_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"))
        text = inspect.explain_formatted(j)
        assert "SortMergeJoin" in text, text
        assert "Exchange" not in text, text
        # r14: single-file buckets + trusted SORTED BY order — the
        # storage layout satisfies the join's sort requirement too, so
        # no per-query re-sort of either side (the q205 sf3 finding)
        assert "Sort [" not in text, text
        # sanity: the join actually runs and matches the shuffled plan
        n = j.count()
        expect = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).count()
        assert n == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_sink_prunes_on_read(spark, sf_dir, tmp_path):
    """Hive-partitioned sink → partition-pruned scan: events written
    partitionBy(event_type, day) and read back with equality filters
    must carry BOTH columns as PartitionFilters (directory-level
    pruning — the coarse filter that runs before any row group is
    opened).  This is the catalog.py scale note made executable: at
    100 TB the fact tables are partitioned by day and pruning does the
    first 1000x of the filtering."""
    import re

    from tidb_gateway_spark.sources.io import write_parquet_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts"))
    out = str(tmp_path / "events_part")
    write_parquet_table(ev, out, partition_by=["event_type", "day"])
    back = spark.read.parquet(out).filter(
        (F.col("event_type") == "purchase") & (F.col("day") == "2024-01-05"))
    text = inspect.explain_formatted(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m, text
    assert "event_type" in m.group(1) and "day" in m.group(1), m.group(1)
    # and the data-level filter list must NOT re-scan partition columns
    # (they are pruned at the directory level, not per-row)
    assert back.count() > 0  # the partition actually exists


def test_q112_rollup_day_partition_prunes(spark, sf_dir):
    """q112 must serve from the materialized hourly rollup with the
    5-day range as PartitionFilters on day — the continuous-aggregate
    contract: query cost ∝ rollup rows in range, never raw events."""
    import re

    df = REGISTRY["q112_hypertable_rollup"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "rollup" in text, "q112 does not read the materialized rollup"
    assert "events.parquet" not in text, "q112 scans raw events"
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "day" in m.group(1), text


def test_q127_runtime_bloom_filter_injects_at_scale(spark, sf_dir):
    """q127's join shape must receive Spark's runtime bloom filter under
    at-scale conditions.  Locally the injection is gated off by two
    size thresholds that model exactly the 100 TB situation: the probe
    scan must be big (applicationSideScanSizeThreshold, default 10 GB)
    and the build side must NOT be broadcastable (at 100 TB orders is
    not).  Simulate both, then assert bloom_filter_agg/might_contain
    appear in the optimized plan — i.e. the lineitem scan is prefiltered
    by the selective orders predicate BEFORE its exchange."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = REGISTRY["q127_runtime_bloom_filter_join"].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        # injected plan must still produce the oracle-matching answer
        rows = {r["l_returnflag"]: r["n"] for r in df.collect()}
        assert rows and all(n > 0 for n in rows.values())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q121_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted join must shuffle on (key, salt) — no single-key
    partition — and stay set-equal to the plain join (the oracle
    asserts values; here assert the SPREAD: the physical exchange keys
    include the salt column)."""
    from tidb_gateway_spark.plans import inspect

    df = REGISTRY["q121_salted_skew_join"].spark(spark, sf_dir)
    plan = inspect.explain_formatted(df)
    assert "_salt" in plan, "salt column absent from physical plan"


def test_q121_hot_key_fills_all_salt_buckets(spark, sf_dir):
    """q121's declared input funnels ~20% of events onto customer key 1
    (the derived CASE key).  The salt basis (pmod(hash(event_id), 8))
    must spread exactly the hot key's rows across ALL 8 salt buckets —
    i.e. across ≥ n_salt shuffle partitions/tasks — otherwise the salt
    is decoration and the straggler remains."""
    from tidb_gateway_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 5 == 0, F.lit(1))
        .otherwise(F.col("user_id")).alias("k"),
        "event_id",
    )
    hot = e.filter(F.col("k") == 1)
    n_hot, total = hot.count(), e.count()
    assert n_hot / total > 0.15, f"fixture not skewed: {n_hot}/{total}"
    buckets = (
        hot.select(F.pmod(F.hash("event_id"), F.lit(8)).alias("s"))
        .distinct().count()
    )
    assert buckets == 8, f"hot key occupies only {buckets}/8 salt buckets"


def test_q141_pit_join_is_hash_on_equikey(spark, sf_dir):
    """The point-in-time join must plan as a HASH join on the c_custkey
    equi component with the validity range as a residual filter — never
    a nested-loop range join over the fact table.  (The two
    BroadcastNestedLoopJoins in the plan are the 1-row span and 3-row
    version-number broadcasts — metadata, not data paths.)"""
    df = REGISTRY["q141_point_in_time_join"].spark(spark, sf_dir)
    plan = inspect.explain_formatted(df)
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan[:1500]
    # the equi key must be the join key, range must be residual: no
    # nested-loop join may touch both orders and the versioned dim
    for line in plan.splitlines():
        if "NestedLoop" in line:
            assert "custkey" not in line, line


def test_q179_cms_probe_join_broadcasts(spark, sf_dir):
    """The CMS estimate join must broadcast the ≤ depth·topk probe rows
    against the cell table — a shuffle there would exchange the whole
    sketch for 40 probe rows."""
    df = REGISTRY["q179_cms_heavy_hitters"].spark(spark, sf_dir)
    assert inspect.has_broadcast_join(df)


def test_q183_literal_inset_score_no_join_no_rowudf(spark, sf_dir):
    """r7 scoring contract: the trained profile is compiled into
    literal InSet membership flags — the scoring plan has NO join at
    all (the r6 form broadcast-joined the model onto the trigram
    stream, shuffling one row per profile hit), reduces map-side to
    one row per doc (partial+final HashAggregate), and stays
    JVM-side."""
    df = REGISTRY["q183_trigram_langid_confusion"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "Join" not in text, text
    # count in the TREE section only — the details section repeats
    # every node name, so a full-text count of 2 is satisfied by a
    # single aggregate node
    assert _plan_tree(text).count("HashAggregate") >= 2, (
        "expected partial+final agg")
    assert "BatchEvalPython" not in text and "PythonUDF" not in text, text


def test_q185_distance_pass_partially_aggregates(spark, sf_dir):
    """The Arrow distance kernel must emit per-batch per-label partials
    (≤|labels| rows per batch) into a final label aggregate — the
    shuffle never carries N·|labels| distance rows."""
    df = REGISTRY["q185_label_noise_audit"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "MapInPandas" in text, text
    tree = _plan_tree(text)
    # the aggregate consumes the kernel's partials: agg above the map
    assert tree.index("HashAggregate") < tree.index("MapInPandas"), tree


def test_q181_histogram_minmax_broadcasts(spark, sf_dir):
    """The global min/max 1-row aggregate joins the scan via broadcast
    nested loop (1-row build side), and the bin groupBy partial
    aggregates map-side."""
    df = REGISTRY["q181_equiwidth_histogram"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text
    assert text.count("HashAggregate") >= 2, "expected partial+final agg"


def test_q180_merge_is_single_full_outer_join(spark, sf_dir):
    """MERGE apply = exactly one full-outer shuffle join; a second join
    or pass over either side would double the cost of every merge."""
    df = REGISTRY["q180_merge_upsert_apply"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert text.count("SortMergeJoin FullOuter") + text.count(
        "ShuffledHashJoin FullOuter") == 1, text


def test_zorder_write_prunes_box_predicates(spark, sf_dir, tmp_path):
    """Z-order layout (operators/layout.py): a table written
    partitioned by the Morton bucket of (o_totalprice, o_custkey)
    must answer a two-column box predicate by scanning only the
    partitions whose rectangles intersect the box — the derived
    zbucket IN (...) lands in PartitionFilters — and return exactly
    the rows the unpruned filter returns."""
    import re

    from tidb_gateway_spark.operators import layout

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey")
    mm = o.agg(
        F.min("o_totalprice"), F.max("o_totalprice"),
        F.min("o_custkey"), F.max("o_custkey"),
    ).first()
    bounds = (mm[0], mm[1], float(mm[2]), float(mm[3]))
    path = str(tmp_path / "zorders")
    layout.zorder_write(o, "o_totalprice", "o_custkey", path, bounds)

    x_range = (bounds[0], bounds[0] + (bounds[1] - bounds[0]) * 0.2)
    y_range = (bounds[2], bounds[2] + (bounds[3] - bounds[2]) * 0.2)
    pruned = layout.zorder_read(
        spark, path, "o_totalprice", "o_custkey", x_range, y_range, bounds)

    text = inspect.explain_formatted(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "zbucket" in m.group(1), text

    cands = layout.zbucket_candidates(x_range, y_range, bounds)
    n_total = 4**layout.BUCKET_BITS
    assert 0 < len(cands) < n_total / 2, (
        f"box should prune most buckets: {len(cands)}/{n_total}")

    expect = sorted(
        r.o_orderkey
        for r in o.filter(
            F.col("o_totalprice").between(*x_range)
            & F.col("o_custkey").between(*y_range)
        ).collect()
    )
    got = sorted(r.o_orderkey for r in pruned.collect())
    assert got == expect


def test_q199_declared_box_query_prunes_zbuckets(spark, sf_dir):
    """The declared z-order round-trip must serve its box predicate
    with `zbucket IN (…)` in PartitionFilters — i.e. the certified
    result (oracle vs raw parquet) really travels through the pruned
    layout, a strict subset of the 64 z-bucket directories."""
    import re

    df = REGISTRY["q199_zorder_roundtrip"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "zbucket" in m.group(1), text


def test_q200_declared_day_filter_prunes_partitions(spark, sf_dir):
    """q200's 3-day predicate must land in PartitionFilters on the
    day-partitioned companion (directory pruning, not row filtering)."""
    import re

    df = REGISTRY["q200_partitioned_pruning_roundtrip"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "day" in m.group(1), text


def test_q205_bucketed_layout_joins_without_exchange(spark, sf_dir):
    """With broadcasting pinned off (the 100 TB condition: neither
    fact side broadcastable), q205's declared join must read the
    bucket-aligned tables with NO Exchange below the join — the
    ingest-time shuffle has replaced the per-query one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = REGISTRY["q205_bucketed_join_roundtrip"].spark(spark, sf_dir)
        text = inspect.explain_formatted(df)
        tree = _plan_tree(text)
        assert "SortMergeJoin" in tree, text
        # in the tree, a node's CHILDREN print below it — everything
        # after the SortMergeJoin line feeds the join, and none of it
        # may be an Exchange (the groupBy's exchange prints above)
        below_join = tree.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in below_join, text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_zorder_out_of_bounds_rows_survive_stale_bounds(spark, tmp_path):
    """Regression (r6 advisory): pinned ANALYZE bounds go stale — new
    rows can fall BELOW lo or ABOVE hi.  The writer must clamp both
    ends so such rows land in edge buckets (a below-lo row used to
    quantize negative and Morton-shift into a bucket the reader never
    probes, silently vanishing from box results).  Box queries framed
    at the data edges must return exactly the raw-filter rows."""
    from tidb_gateway_spark.operators import layout

    rows = [(i, float(x), float(y))
            for i, (x, y) in enumerate(
                [(-50.0, 5.0), (0.0, 0.0), (25.0, 25.0), (75.0, 80.0),
                 (100.0, 100.0), (180.0, 140.0), (60.0, -30.0),
                 (-10.0, 130.0)])]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    # pinned bounds cover only [0, 100]^2 — six rows are in range,
    # the others out of bounds on one or both dimensions
    bounds = (0.0, 100.0, 0.0, 100.0)
    path = str(tmp_path / "zstale")
    layout.zorder_write(df, "x", "y", path, bounds)

    for x_range, y_range in [
        ((-100.0, 30.0), (-100.0, 30.0)),   # below-lo corner
        ((50.0, 200.0), (50.0, 200.0)),     # above-hi corner
        ((-100.0, 200.0), (-100.0, 200.0)),  # everything
        ((20.0, 80.0), (20.0, 80.0)),       # interior
    ]:
        got = sorted(
            r.id for r in layout.zorder_read(
                spark, path, "x", "y", x_range, y_range, bounds).collect())
        expect = sorted(
            r.id for r in df.filter(
                F.col("x").between(*x_range)
                & F.col("y").between(*y_range)).collect())
        assert got == expect, (x_range, y_range, got, expect)


def test_q211_semdedup_single_exchange_arrow_only(spark, sf_dir):
    """SemDeDup's declared plan is scan → Arrow assignment
    (MapInPandas) → ONE cell exchange → grouped numpy report
    (FlatMapGroupsInPandas).  A second exchange or a row-at-a-time
    Python node means the multi-branch form (which re-executes the
    Arrow subtree once per branch) crept back in."""
    df = REGISTRY["q211_semantic_dedup_cells"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    # ONE hash-partitioning exchange (the cell shuffle).  The plan also
    # has a rangepartitioning exchange (global orderBy) and, at fixture
    # scale, ensure_min_partitions' round-robin repartition of the
    # single-row-group embeddings scan — neither re-executes the Arrow
    # subtree, which is the invariant this test guards.
    assert text.count("hashpartitioning(") == 1, text
    assert text.count("rangepartitioning(") <= 1, text
    assert tree.count("MapInPandas") == 1, tree
    assert tree.count("FlatMapGroupsInPandas") == 1, tree
    assert "BatchEvalPython" not in text, text


def test_q210_chunk_exchanges_carry_hashes_not_text(spark, sf_dir):
    """The repeated-passage audit must aggregate/join on md5 chunk
    hashes: no exchange schema may carry the chunk text itself (the
    32-char digest column `h` replaces it before the first shuffle)."""
    df = REGISTRY["q210_repeated_passage_audit"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    for line in text.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "chunk#" not in line, line
    assert "BatchEvalPython" not in text and "PythonUDF" not in text, text
    # r10 shape: ONE h-exchange serves the distinct AND the
    # shared-count window (subset clustering) — a second h exchange
    # means the aggregate+join-back diamond crept back in, which
    # re-executes the chunk+md5 chain per consumer.
    h_ex = [ln for ln in text.splitlines()
            if "hashpartitioning(h#" in ln]
    assert len(h_ex) == 1, h_ex
    assert "Window" in _plan_tree(text), text


def test_q194_gram_stream_never_shuffles(spark, sf_dir):
    """The dup-n-gram coverage query's ONE exchange must sit BELOW the
    shingle Generate and carry document text (bytes(corpus), ~5x
    smaller than the gram-hash stream): hash-partitioning the doc rows
    on doc_id satisfies both downstream groupBys via subset
    clustering, so the exploded gram stream is never exchanged (r10
    rework; the r8 form shuffled ~n_words x 30 B/doc of gram hashes)."""
    df = REGISTRY["q194_dup_ngram_coverage"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    lines = tree.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate" in ln]
    assert len(gen) == 1, tree
    # deeper lines = earlier in execution; the doc_id exchange must be
    # below (after, in tree order) the Generate node
    doc_ex = [ln for ln in text.splitlines()
              if "hashpartitioning(doc_id#" in ln
              and "REPARTITION" in ln]
    assert len(doc_ex) == 1, text
    # no ENSURE_REQUIREMENTS hash exchange may appear on the gram
    # stream: the only other exchanges are the tiny bucket aggregate
    # and the final range sort
    ensure_ex = [ln for ln in text.splitlines()
                 if "ENSURE_REQUIREMENTS" in ln
                 and "hashpartitioning" in ln]
    assert all("bucket#" in ln for ln in ensure_ex), ensure_ex


def test_q220_postings_scan_is_partition_pruned(spark, sf_dir):
    """The inverted-index serve must read only the probe terms' prefix
    partitions (PartitionFilters on pfx) with the term filter pushed
    to parquet — the layout-roundtrip contract applied to retrieval."""
    df = REGISTRY["q220_inverted_index_roundtrip"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "PartitionFilters: [pfx" in text.replace("#", "").replace(
        "pfx7", "pfx"), text  # normalize expr-id noise
    pf_lines = [ln for ln in text.splitlines() if "PartitionFilters" in ln]
    assert any("IN" in ln or "isnotnull" not in ln for ln in pf_lines), text
    assert any("PushedFilters" in ln and "In(w" in ln
               for ln in text.splitlines()), text


def _broadcast_subtree_ids(tree: str) -> list[list[int]]:
    """Node-id lists of each BroadcastExchange subtree in the numbered
    tree section (children = following lines with strictly deeper
    indentation).  Ids index the details section via ``(N) NodeName``."""
    lines = tree.splitlines()

    def parse(ln: str):
        m = re.search(r"([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$", ln)
        if not m:
            return None
        name = m.group(1).strip()
        return len(ln) - len(ln.lstrip(" :+-*")), name, int(m.group(2))

    parsed = [parse(ln) for ln in lines]
    subtrees = []
    for i, p in enumerate(parsed):
        if p is None or "BroadcastExchange" not in p[1]:
            continue
        base, ids = p[0], [p[2]]
        for q in parsed[i + 1:]:
            if q is None or q[0] <= base:
                break
            ids.append(q[2])
        subtrees.append(ids)
    return subtrees


def _node_details(text: str) -> dict[int, str]:
    """Map node id → its detail block from a formatted explain."""
    blocks: dict[int, list[str]] = {}
    cur = None
    for ln in text.split("\n\n", 1)[-1].splitlines():
        m = re.match(r"\((\d+)\) [A-Za-z]", ln)
        if m:
            cur = int(m.group(1))
            blocks[cur] = []
        elif cur is not None:
            blocks[cur].append(ln)
    return {k: "\n".join(v) for k, v in blocks.items()}


def test_q220_dictionary_write_is_multi_task(spark, sf_dir):
    """The dictionary write must be prefix-partitioned (multi-task) —
    never a coalesce(1) single file: the dictionary is vocabulary-sized
    at 100 TB (r8 verdict What's-wrong #2)."""
    import os

    from tidb_gateway_spark.queries.retrieval_curation import _q220_index

    path = _q220_index(spark, sf_dir)
    dict_dir = os.path.join(path, "dict")
    pfx_dirs = [d for d in os.listdir(dict_dir) if d.startswith("pfx=")]
    assert len(pfx_dirs) > 1, sorted(os.listdir(dict_dir))


def test_q214_query_terms_broadcast(spark, sf_dir):
    """BM25's broadcast sides must be BOUNDED: the 1-row N/avgdl scalars
    and the rn<=5 query-term table (which CARRIES its dfc).  A broadcast
    subtree holding a per-token aggregate (Keys = [w]) with no Window
    bound above it is the vocabulary-sized dfreq broadcast — 10^8+ rows
    at 100 TB, driver OOM (the r8 verdict's one scale-killer)."""
    df = REGISTRY["q214_bm25_retrieval"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "BroadcastHashJoin" in text, text
    assert "CartesianProduct" not in text, text
    assert "BatchEvalPython" not in text, text
    tree = _plan_tree(text)
    details = _node_details(text)
    subs = _broadcast_subtree_ids(tree)
    assert subs, tree
    names = {
        int(m.group(2)): m.group(1).strip()
        for m in re.finditer(
            r"([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$", tree, flags=re.M)
    }
    for ids in subs:
        bounded = any(
            names.get(i) in ("Window", "TakeOrderedAndProject")
            or "GlobalLimit" in names.get(i, "")
            for i in ids
        )
        vocab_agg = any(
            names.get(i, "").startswith("HashAggregate")
            and re.search(r"Keys \[1\]: \[w#", details.get(i, ""))
            for i in ids
        )
        assert not (vocab_agg and not bounded), (
            "unbounded vocabulary-sized broadcast (per-token aggregate "
            f"without a top-k/Window bound): nodes {ids}\n{tree}"
        )


def test_q222_epoch_topk_is_take_ordered(spark, sf_dir):
    """Seeded-shuffle first-k must plan TakeOrdered (partial top-k per
    partition + driver merge), never a full global sort of the
    corpus."""
    df = REGISTRY["q222_seeded_epoch_shuffle"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "TakeOrderedAndProject" in text, text


def test_q223_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    """The bucketized interval join must plan as a hash join on the
    bucket key — the naive no-equi-key range join would be
    BroadcastNestedLoop, which is O(rows x windows) at scale."""
    df = REGISTRY["q223_interval_bucket_join"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "NestedLoop" not in text, text
    assert "Join" in text, text


def _hash_exchange_args(text: str) -> list[str]:
    """The ``Arguments: hashpartitioning(...)`` detail lines — one per
    hash Exchange node (the tree section doesn't carry partitioning
    kinds, and each node's details print once)."""
    return [
        ln for ln in text.splitlines()
        if ln.strip().startswith("Arguments: hashpartitioning")
    ]


def test_q227_affinity_pairs_row_local_no_self_join(spark, sf_dir):
    """Basket-pair mining: pairs must come from the row-local array
    expansion, not a basket self-join — so besides the part-dim
    broadcast joins and the 1-row basket-count cross join, no
    sort-merge/shuffled join may appear, and the only nested loop
    allowed is that single 1-row broadcast factor."""
    df = REGISTRY["q227_basket_pair_affinity"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    assert "SortMergeJoin" not in tree, tree
    assert "ShuffledHashJoin" not in tree, tree
    assert tree.count("BroadcastNestedLoopJoin") <= 1, tree
    assert tree.count("BroadcastHashJoin") >= 3, tree


def test_q228_divergence_single_scan_single_exchange(spark, sf_dir):
    """Anti-entropy checksums for BOTH replicas must come from ONE
    orders scan (the corruption is an expression, not a second read)
    and one partial-aggregated month hash exchange — diffing two
    100 TB generations ships |partitions| rows."""
    df = REGISTRY["q228_replica_divergence_audit"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    assert tree.count("Scan parquet") == 1, tree
    assert len(_hash_exchange_args(text)) == 1, text
    assert inspect.has_partial_aggregate(df)


def test_q231_transition_one_lag_shuffle_broadcast_normalizer(spark, sf_dir):
    """The transition matrix shuffles event rows ONCE (user_id, for
    the lag window); the per-state normalizer joins back as a
    |states|-row broadcast, so no second corpus-sized exchange
    exists."""
    df = REGISTRY["q231_markov_transition_matrix"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    assert "Join" not in tree, tree
    lag_exchanges = [
        ln for ln in _hash_exchange_args(text) if "user_id" in ln
    ]
    assert len(lag_exchanges) == 1, text


def test_q232_profile_two_pass_no_expanded_sort(spark, sf_dir):
    """The r15 profiler is TWO cheap passes: the multi-distinct Expand
    aggregate with all-bigint buffers (HASH-aggregates map-side) and a
    grouping-key-free string min/max aggregate (never sorts), cross-
    joined and unpivoted.  Pinned against both regressions: the r13
    per-column union (six scans) and the r14 single fat aggregate
    whose string min/max buffers forced the 7x-expanded stream through
    two SortAggregate sorts (2.35 vs 2.02 s at sf1).  At most one Sort
    may appear (the final 6-row orderBy).  When ensure_min_partitions
    inserts a repartition, the min/max branch rides a ReusedExchange
    of it (one scan total); when it is a no-op the branch scans
    parquet itself (two scans) — both are the cheap shape."""
    df = REGISTRY["q232_table_profile"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    assert tree.count("Scan parquet") in (1, 2), tree
    if tree.count("Scan parquet") == 1:
        assert "ReusedExchange" in tree, tree
    assert "Expand" in tree, tree
    assert "HashAggregate" in tree, tree
    assert tree.count("Sort (") <= 1, tree


def test_q233_waterfill_one_corpus_exchange(spark, sf_dir):
    """The waterfill solver reduces the corpus ONCE (per-source
    supplies); every window/lag/self-reference afterwards operates on
    the |sources|-row frame, so exactly one documents scan and one
    corpus-sized hash exchange (the source aggregate) may appear."""
    df = REGISTRY["q233_mixture_waterfill"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    corpus_exchanges = [
        ln for ln in _hash_exchange_args(text) if "source" in ln
    ]
    assert len(corpus_exchanges) >= 1, text
    tree = _plan_tree(text)
    # solver joins are broadcast (1-row level, sources-row seg)
    assert "SortMergeJoin" not in tree, tree


def test_q237_auc_aggregates_before_ranking(spark, sf_dir):
    """AUC must reduce to per-distinct-score counts BEFORE any ordering
    window — exactly one corpus-sized hash exchange (the score
    groupBy); the cumulative window then runs over the aggregated
    frame, never a raw-row global rank."""
    df = REGISTRY["q237_auc_mann_whitney"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    score_exchanges = [
        ln for ln in _hash_exchange_args(text) if "score" in ln
    ]
    assert len(score_exchanges) == 1, text
    tree = _plan_tree(text)
    assert tree.count("Scan parquet") == 1, tree


def test_q239_waterfall_single_scan_no_explode(spark, sf_dir):
    """The rule waterfall is ONE corpus scan with row-local HOF flags
    and ONE aggregate — no explode/Generate may appear BELOW the
    aggregate (a words explode would multiply the corpus token-wise;
    the stack() reshape above the 1-row aggregate plans as Generate
    and is fine) and no join anywhere."""
    df = REGISTRY["q239_quality_rule_waterfall"].spark(spark, sf_dir)
    tree = _plan_tree(inspect.explain_formatted(df))
    assert tree.count("Scan parquet") == 1, tree
    below_agg = tree[tree.index("HashAggregate"):]
    assert "Generate" not in below_agg, tree
    assert "Join" not in tree, tree


def test_q243_trim_window_over_aggregated_frame(spark, sf_dir):
    """Trimmed/winsorized means: the (group, value) aggregate must come
    BEFORE the cumulative window (aggregate-then-window form) — the
    plan has exactly one orders scan and the first exchange below it is
    the (pr, cents) hash exchange with partial aggregation."""
    df = REGISTRY["q243_trimmed_winsorized_means"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    assert tree.count("Scan parquet") == 1, tree
    # the tree prints top-down, so "below the window" = after it in the
    # string: the (pr, cents) partial+final aggregate pair must appear
    # between the last Window node and the scan
    below_windows = tree[tree.rindex("Window"):]
    assert below_windows.count("HashAggregate") >= 2, tree


def test_q238_decile_no_single_partition_window(spark, sf_dir):
    """The decile assignment uses the two-pass global_ntile — no
    SinglePartition exchange may touch raw embedding rows (the only
    allowed single-partition stages operate on aggregated frames)."""
    df = REGISTRY["q238_decile_lift_table"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    tree = _plan_tree(text)
    # embeddings scan feeds a hash/round-robin exchange, not a global
    # sort: no rangepartitioning over the raw score column
    range_exchanges = [
        ln for ln in text.splitlines()
        if ln.strip().startswith("Arguments: rangepartitioning")
        and "score" in ln
    ]
    assert not range_exchanges, text
    assert tree.count("Scan parquet") >= 1, tree


def test_q258_single_corpus_exchange(spark, sf_dir):
    """The gram-novelty drift query's membership test must ride the ONE
    explicit h-exchange (q210 shape: distinct + flag window share it
    via subset clustering) — no join-back, no gram-set broadcast, and
    no exchange carrying gram text."""
    df = REGISTRY["q258_ngram_novelty_drift"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    h_ex = [ln for ln in text.splitlines() if "hashpartitioning(h#" in ln]
    assert len(h_ex) == 1, h_ex
    tree = _plan_tree(text)
    assert "Window" in tree, tree
    assert "Join" not in tree and "BroadcastExchange" not in tree, tree
    for line in text.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "w#" not in line, line


def test_q261_gram_exchanges_carry_digests_only(spark, sf_dir):
    """Exact-substring dedup: the gram stream must shuffle 16-hex
    digests + integer offsets only — no exchange may carry document
    text or the token array — and the duplicate-gram flag must ride
    ONE explicit gh-exchange via the count window (q210 shape: no
    aggregate+join-back diamond re-running the shingle chain)."""
    df = REGISTRY["q261_exact_substring_dedup"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    for line in text.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line and "wlist#" not in line, line
    gh_ex = [ln for ln in text.splitlines()
             if "hashpartitioning(gh#" in ln]
    assert len(gh_ex) == 1, gh_ex
    tree = _plan_tree(text)
    assert "Window" in tree, tree
    assert "BatchEvalPython" not in text and "PythonUDF" not in text, text
    # exactly one Generate: the gram stream is evaluated once (the
    # groupBy+join-back alternative re-shingles per consumer)
    assert tree.count("Generate") == 1, tree

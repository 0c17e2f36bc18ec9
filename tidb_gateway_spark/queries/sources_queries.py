"""Q123–Q124: non-parquet source formats certified end-to-end.

The reference is storage-agnostic — its backends own the data and the
gateway relays bytes (/root/reference/gateway/relay.go:47-66), so "CSV
support" for a reference user means the backend ingests CSV (LOAD DATA,
which the engine already serves — sources/io.py:load_data_infile).
These two queries make the engine's own CSV and JSON-lines *source
readers* (sources/io.py:read_csv/read_json) certified operators: each
materializes an mtime-keyed companion export of a fixture table, reads
it back through the format reader with an explicit schema, and
aggregates; the ORACLE computes the same aggregate from the original
parquet — so a value-hash pass proves write→read round-trip fidelity,
not just that the reader parses.

Scale notes (100 TB): CSV/JSONL are *ingest* formats — splittable when
uncompressed (Spark assigns line-aligned splits per
``maxPartitionBytes``) but schema-on-read, row-oriented, and without
column pruning or predicate pushdown; both queries read with an
explicit schema (no inference pass over the data — ``inferSchema`` at
100 TB is a full extra scan) and the engine's answer to "fast queries
over CSV" is exactly this module's shape: convert once to parquet (or
here, aggregate in the same job).  The export side is written with
Spark's distributed writers (one file per partition, no driver
collect).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.queries.registry import register

def _export(sf_dir: str, table: str, fmt: str, build) -> str:
    """Path of the ``fmt`` export of ``table`` that ``build(path)``
    writes (a ``derived.companion``: build is ingest cost; the query
    measures the serving path)."""
    from tidb_gateway_spark.sources import derived

    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    return derived.companion(fmt, src, (fmt, src), build)


_CUSTOMER_SCHEMA = T.StructType([
    T.StructField("c_custkey", T.LongType()),
    T.StructField("c_name", T.StringType()),
    T.StructField("c_nationkey", T.IntegerType()),
    T.StructField("c_acctbal", T.DoubleType()),
    T.StructField("c_mktsegment", T.StringType()),
])


@register(
    "q123_csv_source_roundtrip",
    "SELECT c_mktsegment, COUNT(*) AS n, "
    "FLOOR(SUM(c_acctbal)*100 + 0.5)/100 AS bal "
    "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
    doc="CSV source certified by round-trip: customer is exported to "
        "headered CSV once (mtime-keyed companion, distributed writer), "
        "read back via sources/io.py:read_csv with an EXPLICIT schema "
        "(no inferSchema scan), and aggregated; the oracle aggregates "
        "the original parquet, so the hash match proves the CSV "
        "write→read path preserves values (incl. double formatting). "
        "Uncompressed CSV splits by line at maxPartitionBytes — "
        "parallel ingest; no pruning/pushdown, which is why the engine "
        "treats CSV as ingest-only.",
    tags=("source", "csv"),
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.sources.io import read_csv

    path = _export(
        sf_dir, "customer", "csv",
        lambda p: load_table(spark, sf_dir, "customer").write
        .mode("overwrite").option("header", "true").csv(p),
    )
    c = read_csv(spark, path, schema=_CUSTOMER_SCHEMA, header=True)
    return (
        c.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"),
             stable_round(F.sum("c_acctbal"), 2).alias("bal"))
        .orderBy("c_mktsegment")
    )


_DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


@register(
    "q124_jsonl_source_roundtrip",
    "SELECT lang, source, COUNT(*) AS nd, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars, "
    "CAST(SUM(len(text)) AS BIGINT) AS tlen "
    "FROM documents GROUP BY lang, source ORDER BY lang, source",
    doc="JSON-lines source certified by round-trip: documents exported "
        "to JSONL once (mtime-keyed), read back via sources/io.py:"
        "read_json with an explicit schema, aggregated including a "
        "text-length checksum so string escaping round-trips are "
        "actually verified; oracle reads the original parquet. JSONL "
        "is the lingua franca of crawl/LLM corpora — this is the "
        "ingest edge of the pipeline operators (q60+), with the same "
        "100 TB stance as CSV: line-splittable parallel reads, explicit "
        "schema, convert-to-columnar once.",
    tags=("source", "json"),
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.sources.io import read_json

    path = _export(
        sf_dir, "documents", "jsonl",
        lambda p: load_table(spark, sf_dir, "documents").write
        .mode("overwrite").json(p),
    )
    d = read_json(spark, path, schema=_DOCUMENTS_SCHEMA)
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("nd"),
             F.sum("n_chars").alias("chars"),
             F.sum(F.length("text")).alias("tlen"))
        .orderBy("lang", "source")
    )


@register(
    "q128_orc_source_roundtrip",
    "SELECT o_orderpriority, COUNT(*) AS n, "
    "FLOOR(SUM(o_totalprice)*100 + 0.5)/100 AS tp "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    doc="ORC source certified by round-trip (completes the declared "
        "source-format family: parquet everywhere, CSV q123, JSONL "
        "q124, ORC here): orders exported once to ORC (mtime-keyed, "
        "distributed writer, sources/io.py:write_orc_table), read back "
        "via read_orc, aggregated; oracle aggregates the original "
        "parquet. ORC is columnar with predicate pushdown and stripe "
        "statistics — unlike CSV/JSONL it IS a serving format, and the "
        "engine's reader keeps column pruning (plan shows ReadSchema "
        "with only the 2 aggregated columns).",
    tags=("source", "orc"),
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.sources.io import read_orc, write_orc_table

    path = _export(
        sf_dir, "orders", "orc",
        lambda p: write_orc_table(load_table(spark, sf_dir, "orders"), p),
    )
    o = read_orc(spark, path)
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"),
             stable_round(F.sum("o_totalprice"), 2).alias("tp"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q200
_Q200_DAYS = ("2024-01-10", "2024-01-11", "2024-01-12")

_Q200_ORACLE = (
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS v "
    "FROM events WHERE strftime(ts, '%Y-%m-%d') IN ("
    + ", ".join(f"'{d}'" for d in _Q200_DAYS)
    + ") GROUP BY event_type ORDER BY event_type"
)


@register(
    "q200_partitioned_pruning_roundtrip",
    _Q200_ORACLE,
    doc="Hive-style date partitioning certified end-to-end (the "
        "layout family's most common member, beside z-order q199 and "
        "bucketing q205): events is exported once partitioned by "
        "day=yyyy-MM-dd (mtime-keyed companion, distributed writer — "
        "the 'fact tables are partitioned by day' catalog.py scale "
        "note made a declared query), and the declared 3-day query "
        "filters on the partition column so directory-level pruning "
        "reads 3 of ~30 partitions before any row group opens.  The "
        "ORACLE computes the same aggregate from the RAW parquet by "
        "formatting ts — a hash match certifies the partition "
        "write→prune→read path loses no rows; the PartitionFilters "
        "plan assertion lives in tests/test_plans.py.",
    tags=("source", "layout"),
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _export(
        sf_dir, "events", "daypart",
        lambda p: load_table(spark, sf_dir, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("day")
        .write.mode("overwrite").partitionBy("day").parquet(p),
    )
    e = spark.read.parquet(path)
    return (
        e.filter(F.col("day").isin(*_Q200_DAYS))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            stable_round(F.sum("value"), 4).alias("v"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q205
# 32 buckets: a bucketed scan parallelizes one-task-per-bucket (bucket
# files never split), so bucket count IS the join's parallelism — 8
# capped the sf3 join at a quarter of the cores.  On a cluster, size
# to (cores × small multiple) at ingest.
_Q205_BUCKETS = 32

_Q205_ORACLE = (
    "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines, "
    "FLOOR(SUM(l_quantity) * 100 + 0.5) / 100 AS qty, "
    "FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 "
    "AS revenue "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


def _q205_bucketed(spark: SparkSession, sf_dir: str, table: str,
                   key: str, cols: list[str]) -> str:
    """Materialize a hash-bucketed catalog table of ``table`` once per
    fixture.  The files are a derived companion; the catalog entry is
    session-scoped (bucket metadata lives in the metastore), so a
    session that finds fresh files registers them with a
    CREATE TABLE ... CLUSTERED BY pointing at the existing path."""

    from tidb_gateway_spark.sources.io import write_bucketed_table

    from tidb_gateway_spark.sources import derived

    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))

    def table_name(path: str) -> str:
        return f"b7_{table}_{os.path.basename(path)[:8]}"

    def build(path: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {table_name(path)}")
        write_bucketed_table(
            load_table(spark, sf_dir, table).select(*cols),
            table_name(path), [key], _Q205_BUCKETS, path=path,
            sort_cols=[key])

    # the key holds the DERIVED ROOT too (r7 ADVICE): with a persistent
    # metastore and a changed SPARK_GRAFT_DERIVED_DIR, a source-only key
    # would reuse a catalog entry whose LOCATION points at the old root.
    # Built in place, not renamed: the catalog records that LOCATION.
    root = os.path.abspath(derived.derived_root("bucketed"))
    path = derived.companion("bucketed", src, ("bucketed", src, root),
                             build, place=lambda p, b: b(p))
    name = table_name(path)
    if not spark.catalog.tableExists(name):
        schema = spark.read.parquet(path).schema
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {_Q205_BUCKETS} BUCKETS LOCATION '{path}'")
    return name


@register(
    "q205_bucketed_join_roundtrip",
    _Q205_ORACLE,
    doc="Co-located (bucketed) join certified end-to-end — promotes "
        "the write_bucketed_table operator from plan-test-only "
        "(tests/test_plans.py::test_bucketed_join_needs_no_shuffle) "
        "to a declared query: orders and lineitem are each written "
        "ONCE hash-bucketed and per-bucket sorted on the orderkey "
        "(one ingest-time shuffle replacing a shuffle per query — the "
        "100 TB answer for fact⋈fact joins repeatedly keyed the same "
        "way), and the declared TPC-H-Q4-shaped aggregate joins them "
        "through the bucket-aligned layout.  The ORACLE joins the RAW "
        "parquet tables — a hash match certifies the bucketed "
        "write→read→join path drops and duplicates nothing.  The "
        "no-Exchange plan property stays asserted in tests/test_plans "
        "(where the broadcast threshold is pinned; at fixture scale "
        "Catalyst may legitimately broadcast the orders side here).",
    tags=("source", "layout", "join"),
)
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    bo = _q205_bucketed(spark, sf_dir, "orders", "o_orderkey",
                        ["o_orderkey", "o_orderpriority"])
    bl = _q205_bucketed(spark, sf_dir, "lineitem", "l_orderkey",
                        ["l_orderkey", "l_quantity", "l_extendedprice",
                         "l_discount"])
    o = spark.table(bo)
    li = spark.table(bl)
    # merge hint: at sf3 the 2-column orders side slips under the 64 MB
    # broadcast threshold and Catalyst built + broadcast a 4.5M-row
    # hash relation PER QUERY (~3 s, the r13 "unexplained 2.95 s") —
    # while the zero-exchange zero-sort bucketed path this query
    # exists to certify sat unused.  Fact⋈fact never broadcasts at
    # 100 TB; pin the join to the layout-aligned sort-merge path.
    j = o.hint("merge").join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            stable_round(F.sum("l_quantity"), 2).alias("qty"),
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q206
_Q206_ORACLE = (
    "SELECT CASE WHEN c_custkey % 2 = 0 THEN 'unknown' "
    "ELSE c_mktsegment END AS segment, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "FLOOR(SUM(c_acctbal) * 100 + 0.5) / 100 AS bal "
    "FROM customer GROUP BY 1 ORDER BY segment"
)


@register(
    "q206_schema_evolution_roundtrip",
    _Q206_ORACLE,
    doc="Parquet schema evolution certified end-to-end: the customer "
        "table is exported once as TWO generations of files in one "
        "directory — v1 (even custkeys) without c_mktsegment, v2 (odd "
        "custkeys) with it — and read back with mergeSchema=true, the "
        "additive-column evolution every long-lived 100 TB table "
        "undergoes (a footer-union of schemas at planning time; "
        "missing columns surface as NULL, coalesced to 'unknown').  "
        "The ORACLE recomputes from the original parquet with the "
        "same even/odd rule — a hash match certifies that old-file "
        "NULL semantics and new-file values both survive the merge.",
    tags=("source", "layout"),
)
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write_two_generations(p: str) -> None:
        df = load_table(spark, sf_dir, "customer")
        v1 = df.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_name", "c_acctbal")
        v2 = df.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        v1.write.mode("overwrite").parquet(p)
        v2.write.mode("append").parquet(p)

    path = _export(sf_dir, "customer", "schemaevo", write_two_generations)
    c = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        c.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("unknown"))
            .alias("segment"))
        .agg(
            F.count("*").alias("n"),
            stable_round(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .orderBy("segment")
    )

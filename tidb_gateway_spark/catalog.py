"""Fixture catalog: load driver parquet tables and register temp views.

The reference routes a connection's queries to one of several backend
clusters via the ``{clusterid}.{username}`` rule
(/root/reference/gateway/gateway.go:253-267); in this engine a "cluster"
is a registered catalog of views, and this module is the loader for the
driver-provided star schema (FIXTURES.md).

Scale notes: loading is a metadata operation (``spark.read.parquet`` is
lazy); at 100 TB these would be partitioned/bucketed external tables in a
metastore, with partition columns chosen per table (orders/lineitem by
month of the date column, events by day of ts) so partition pruning does
the coarse filtering before row-group pushdown.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_gateway_spark.session import ensure_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Ingest-time JSON shredding (sources/io.py:shred_json_column): JSON
# string columns whose paths are parsed ONCE into typed columns and
# served as a companion "<table>_shredded" view.  The gateway dialect
# (gateway/dialect.py) rewrites constant-path extractions onto the
# typed column so repeated JSON queries never re-parse text — the
# 100 TB answer to get_json_object-per-query (~2.2 s/M rows wasted,
# BASELINE.md).  path → shredded column name per table.
SHREDDED_JSON: dict[str, dict] = {
    "events": {
        "json_col": "props",
        "schema": "k INT",
        "prefix": "props_",
        "paths": {"$.k": "props_k"},
    },
}
SHREDDED_SUFFIX = "_shredded"

# Memoized DataFrames / view registrations.  spark.read.parquet costs a
# driver-side footer read per call; with 70 queries × up to 10 tables that
# dominated trivial-query latency.  Keyed by session id so a restarted
# session re-reads.
_table_cache: dict[tuple[int, str, str], DataFrame] = {}
_views_registered: dict[int, str] = {}


def flush(spark: SparkSession | None = None) -> None:
    """Drop memoized table frames and view registrations.

    With no argument: ALL of them, for every live session (COM_REFRESH
    / FLUSH TABLES semantics — the flush is server-wide, not
    per-connection); the next query on any session re-reads parquet
    footers and re-registers its views.  With ``spark``: only that
    session's entries — the gateway calls this when a connection ends
    or COM_CHANGE_USER replaces its session, so closed connections do
    not pin their sessions' frames."""
    if spark is None:
        _table_cache.clear()
        _views_registered.clear()
        return
    sid = id(spark)
    # list() snapshots the keys in one step: executor threads of other
    # connections may insert while this loop runs
    for key in list(_table_cache):
        if key[0] == sid:
            _table_cache.pop(key, None)
    _views_registered.pop(sid, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing types to engine conventions.

    ``events.ts`` storage has changed shape across fixture generations
    (parquet TIMESTAMP(NANOS) read as raw longs under ``nanosAsLong``;
    now parquet timestamp[us] read as TIMESTAMP_NTZ), so the loader
    dispatches on the *actual* column dtype instead of assuming one —
    the engine must serve the events data opaquely-correctly regardless
    of storage micro-format, the way the reference serves any backend
    bytes (/root/reference/gateway/relay.go:68-99).  Either way we expose:

    * ``ts``    — TIMESTAMP at microsecond precision (truncation on the
      nanos path — bit-identical to how DuckDB's parquet reader reads
      the same column, which keeps strict ts comparisons cross-engine
      safe; session tz is pinned UTC so the NTZ→TIMESTAMP cast is
      wall-clock-identity);
    * ``ts_us`` — epoch microseconds as a long, for exact-integer window
      frames (RANGE BETWEEN) and gap arithmetic.
    """
    key = (id(spark), sf_dir, name)
    cached = _table_cache.get(key)
    if cached is not None:
        return cached
    ensure_session_confs(spark)
    # "<table>_shredded" loads the materialized typed-JSON companion —
    # the library-user analog of the gateway's dialect routing (the
    # gateway rewrites get_json_object(props,...) onto these columns;
    # a DataFrame caller asks for the companion by name).
    if name.endswith(SHREDDED_SUFFIX):
        base = name[: -len(SHREDDED_SUFFIX)]
        if base in SHREDDED_JSON:
            df = shredded_table(spark, sf_dir, base)
            _table_cache[key] = df
            return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events(df)
    _table_cache[key] = df
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize an events frame (batch or streaming) to the engine's
    (ts TIMESTAMP µs, ts_us LONG) convention, dispatching on the actual
    stored dtype of ``ts`` (see load_table docstring).  Column order is
    kept identical across dispatch branches so downstream schema checks
    are storage-format-independent.
    """
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # Legacy fixture: TIMESTAMP(NANOS) surfaced as raw epoch nanos
        # via spark.sql.legacy.parquet.nanosAsLong.
        df = (
            df.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns DIV 1000"))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .drop("ts_ns")
        )
    elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        # Current fixture: parquet timestamp[us].  Session tz is pinned
        # UTC (session.py RUNTIME_CONFS) so casting NTZ→TIMESTAMP keeps
        # the wall-clock value and unix_micros matches DuckDB epoch_us.
        df = (
            df.withColumnRenamed("ts", "ts_raw")
            .withColumn("ts_us",
                        F.unix_micros(F.col("ts_raw").cast("timestamp")))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .drop("ts_raw")
        )
    else:  # pragma: no cover - future fixture drift trips loudly
        raise TypeError(
            f"events.ts has unsupported storage type {ts_type}; "
            "extend catalog.normalize_events")
    return df


def promote_to_catalog_table(spark: SparkSession, sf_dir: str,
                             name: str, db: str) -> str:
    """Promote a fixture parquet path to an external catalog table so
    Spark can persist table/column statistics for it (temp views cannot
    hold stats).  Returns the qualified table name.

    At 100 TB this is the normal state of the world — tables live in a
    metastore and ANALYZE feeds the cost-based optimizer's join
    reordering / broadcast decisions; the temp-view path is the
    stats-less fallback.

    ``events`` promotes as a *pair*: the raw parquet becomes the
    stats-holding catalog table ``events_base`` (ANALYZE target — stats
    must live on a table, not a view) and a persistent SQL view
    ``events`` re-derives the engine's (ts TIMESTAMP µs, ts_us LONG)
    projection over it, so post-ANALYZE unqualified references keep the
    engine schema while the CBO sees the base table's rowCount/size.
    """
    ensure_session_confs(spark)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    if name == "events":
        base = f"`{db}`.`events_base`"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {base} USING parquet "
            f"LOCATION '{sf_dir}/events.parquet'"
        )
        from pyspark.sql import types as T

        ts_type = spark.table(base).schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            us_expr = "ts DIV 1000"
        elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
            us_expr = "unix_micros(CAST(ts AS TIMESTAMP))"
        else:  # pragma: no cover - same guard as normalize_events
            raise TypeError(f"events.ts unsupported storage type {ts_type}")
        spark.sql(
            f"CREATE OR REPLACE VIEW `{db}`.`events` AS "
            f"SELECT event_id, user_id, event_type, value, props, "
            f"{us_expr} AS ts_us, timestamp_micros({us_expr}) AS ts "
            f"FROM {base}"
        )
        return base
    qualified = f"`{db}`.`{name}`"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {qualified} USING parquet "
        f"LOCATION '{sf_dir}/{name}.parquet'"
    )
    return qualified


def register_views(spark: SparkSession, sf_dir: str) -> bool:
    """Register all fixture tables as temp views named as in FIXTURES.md.

    Idempotent per (session, sf_dir); re-registers when sf_dir changes.
    Returns True when registration actually ran (callers that maintain
    promoted catalog tables must re-drop the shadowing temp views then
    — see gateway/server.py:_Session.ensure_views).
    """
    if _views_registered.get(id(spark)) == sf_dir:
        return False
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        spec = SHREDDED_JSON.get(name)
        if spec:
            shredded_table(spark, sf_dir, name).createOrReplaceTempView(
                name + SHREDDED_SUFFIX)
    _register_information_schema(spark, sf_dir)
    _views_registered[id(spark)] = sf_dir
    return True


def _register_information_schema(spark: SparkSession, sf_dir: str) -> None:
    """Minimal ``information_schema`` views (ORMs and BI tools probe
    these; the reference's TiDB backends served them).  The gateway
    dialect rewrites ``information_schema.tables``/``.columns`` onto
    these temp views (Spark temp views cannot be schema-qualified).
    Metadata-sized: built from the already-loaded fixture schemas.
    """
    from tidb_gateway_spark.gateway.result_encoder import mysql_type_name

    tables_rows = [
        ("def", "default", name, "BASE TABLE", "SparkSQL")
        for name in TABLES
    ]
    spark.createDataFrame(
        tables_rows,
        "table_catalog string, table_schema string, table_name string, "
        "table_type string, engine string",
    ).createOrReplaceTempView("__is_tables")

    cols_rows = []
    for name in TABLES:
        schema = load_table(spark, sf_dir, name).schema
        for pos, f in enumerate(schema.fields, start=1):
            cols_rows.append(
                ("def", "default", name, f.name, pos,
                 mysql_type_name(f.dataType),
                 "YES" if f.nullable else "NO")
            )
    spark.createDataFrame(
        cols_rows,
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, data_type string, "
        "is_nullable string",
    ).createOrReplaceTempView("__is_columns")


_shred_lock = threading.Lock()


def shredded_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """MATERIALIZED shredded companion of a JSON-bearing table.

    A lazy from_json view would re-parse per query — the entire point is
    to parse once.  So the shredded projection is written to parquet
    (typed, pruned columns) the first time a (source, spec) pair is
    seen and read back from disk afterwards; mtime staleness triggers a
    rebuild, per the sources/derived.py contract.
    """
    import hashlib

    from tidb_gateway_spark.sources.io import shred_json_column

    spec = SHREDDED_JSON[name]
    src = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    key = hashlib.md5(
        f"{src}|{spec['schema']}|{spec['prefix']}".encode()
    ).hexdigest()[:16]
    from tidb_gateway_spark.sources import derived

    path = derived.derived_path("shredded", key)
    with _shred_lock:
        if not derived.is_fresh(path, src):
            shred_json_column(
                load_table(spark, sf_dir, name), spec["json_col"],
                spec["schema"], prefix=spec["prefix"], drop_source=False,
            ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)

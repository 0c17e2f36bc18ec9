"""Hypertable-style continuous aggregate (hourly rollup of events).

The TimescaleDB/Druid pattern the brief names as a custom-operator
example: a time-bucketed pre-aggregate materialized once at ingest,
partitioned by day, that coarser-grained queries re-aggregate instead
of scanning raw events.  At 100 TB the raw fact table is TBs/day while
the hourly rollup is MBs/day — a dashboard's month-of-daily-stats query
reads the rollup's ~720 rows/metric, never the raw 100 TB, and day
partition pruning cuts the scan to the queried range before any row
group opens.

Losslessness contract: the rollup stores COUNT and an integer-cents SUM
(``floor(value*100 + 0.5)`` summed as BIGINT).  Integer sums are exact
and associative, so re-aggregating hourly rows to daily/monthly answers
is bit-identical to aggregating the raw events in any engine — a double
SUM would drift in the last bits between grouping orders and break the
cross-engine value-hash.  Averages derive as sum/count at query time.

Freshness: mtime-staleness rebuild under the shared derived-artifact
contract of sources/derived.py (kind ``rollup``).  In production this materialization is the foreachBatch
sink of a streaming job (streaming/jobs.py:tumbling_counts is the
per-window shape); here the batch build stands in for the backfill.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_hourly_rollup(events: DataFrame, path: str) -> None:
    """events → (day, hour, event_type, cnt, sv_cents) parquet
    partitioned by day."""
    from tidb_gateway_spark.sources.io import write_parquet_table

    hourly = (
        events.select(
            F.to_date("ts").alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("day", "hour", "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("cents").alias("sv_cents"))
    )
    write_parquet_table(hourly, path, partition_by=["day"])


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read (building if absent or stale) the hourly events rollup."""
    from tidb_gateway_spark.catalog import load_table
    from tidb_gateway_spark.session import ensure_session_confs
    from tidb_gateway_spark.sources import derived

    ensure_session_confs(spark)
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    return spark.read.parquet(derived.companion(
        "rollup", src, (src, "hourly"),
        lambda path: build_hourly_rollup(
            load_table(spark, sf_dir, "events"), path)))

"""Input-parallelism guard for compute-heavy per-row operators.

A parquet file is splittable only at row-group boundaries; a table
written as one row group (pandas/pyarrow defaults produce exactly that
for < 1M rows) scans as ONE task no matter what
``spark.sql.files.maxPartitionBytes`` says.  For scan-speed operators
that is irrelevant, but a hash-heavy stage (MinHash: ~250 md5 calls per
document) then runs single-threaded on a 32-core machine.

:func:`ensure_min_partitions` repartitions ONLY when the planned scan
parallelism is materially below the session's core count — the common
case for small/medium single-file tables.  At 100 TB the condition is
never true (thousands of files / row groups per table), so the round-
robin shuffle this inserts is a small-input-only adaptation, not a
fixed cost in the scale path.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def session_parallelism(spark: SparkSession, default: int = 200) -> int:
    """Target parallelism for the session, Connect-safe.

    Classic sessions report ``sparkContext.defaultParallelism``; Spark
    Connect exposes no SparkContext, so fall back to the session's
    shuffle-partition count (our tuned sessions set it to the core
    count; vanilla sessions get Spark's default).
    """
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return default


@contextmanager
def build_shuffle_partitions(spark: SparkSession) -> Iterator[None]:
    """Size ``spark.sql.shuffle.partitions`` to the session's
    parallelism for the ``with`` block, then restore it.

    For index builds that run several shuffling jobs per micro-batch:
    under an externally-owned session's default 200 shuffle partitions
    that is thousands of tiny tasks of pure scheduling overhead
    (measured 23 s vs 6 s for the q265 gate at sf0.01).  A session
    whose conf cannot be read or set runs the block unchanged.
    """
    key = "spark.sql.shuffle.partitions"
    try:
        old = spark.conf.get(key)
        spark.conf.set(key, str(session_parallelism(spark)))
    except Exception:
        old = None
    try:
        yield
    finally:
        if old is not None:
            try:
                spark.conf.set(key, old)
            except Exception:
                pass


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ``df`` round-robin iff its planned partition count is
    under half the target (default: the session's default parallelism).

    Planning only — no job runs; ``rdd.getNumPartitions`` reads the
    physical plan's partitioning.

    Spark Connect fallback: the client cannot inspect planned scan
    partitioning (no ``.rdd``), so delegate the decision to AQE with a
    REBALANCE hint — at runtime it shuffles to advisory-sized
    partitions, restoring parallelism for compute-heavy stages over
    one-row-group inputs, while on already-parallel scans AQE keeps
    partitions near advisory size (small constant re-shuffle, never a
    collapse to one task).
    """
    try:
        sc = df.sparkSession.sparkContext
    except Exception:
        return df.hint("REBALANCE")
    try:
        want = min_parts or sc.defaultParallelism
        have = df.rdd.getNumPartitions()
    except Exception:
        return df
    if have * 2 <= want:
        return df.repartition(want)
    return df

"""Deterministic KMV (k-minimum-values) distinct-count sketch.

The "novel sketch" slot from the brief, chosen over HLL deliberately:
``approx_count_distinct`` sketches are engine-specific (Spark's
HLL++ registers differ from DuckDB's), so an HLL operator can only get
a rows-only correctness check.  KMV over a portable hash is fully
deterministic — both engines compute the identical k smallest
``md5(token)`` values, so the sketch itself AND the estimate
hash-match at value level, and the estimator's error is visible
against the exact count in the same result row.

Estimator: with U the k-th smallest of n distinct hashes mapped to
(0,1), E[U] ≈ k/(n+1), so ``n̂ = (k-1)/U`` (the unbiased form).  We map
via the first 8 hex chars / 2^32 — integer arithmetic then one double
division, bit-identical cross-engine.

Scale shape: per-partition TopK(k ascending) then a driver-side merge
of ≤ partitions·k candidates — exactly Spark's TakeOrdered physical
operator, which is also how KMV sketches MERGE (union the candidate
sets, keep the k smallest): the same plan serves per-split sketching
and sketch union, and the shuffle carries k hashes per partition, never
the distinct universe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_gateway_spark.operators.sampling import (
    ddb_hex_int,
    ddb_salted_md5,
    hex_int,
    salted_md5,
)


def kmv_sketch(values: DataFrame, col: str, k: int = 256) -> DataFrame:
    """DISTINCT values of ``col`` → one row: (k_used, kth_hash, est).

    ``values`` may contain duplicates; hashing after DISTINCT keeps the
    sketch a pure function of the value SET.  For k ≥ distinct count
    the estimate is exact-by-construction (kth hash is the max, and the
    count is just k_used).
    """
    hashed = values.select(F.md5(F.col(col).cast("string")).alias("h")).distinct()
    kmin = hashed.orderBy("h").limit(k)
    return kmin.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth"),
        (
            (F.count("*") - F.lit(1)).cast("double")
            / hex_frac(F.max("h"))
        ).alias("est_raw"),
    ).select(
        "k_used",
        "kth",
        F.floor(F.col("est_raw") + F.lit(0.5)).cast("bigint").alias("est"),
    )


def hex_frac(h: Column) -> Column:
    """First 8 hex chars of a digest → uniform (0,1) double
    (value/2^32); the deterministic hash→unit-interval map both engines
    share."""
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )


def ddb_hex_frac(hexpr: str) -> str:
    """DuckDB twin of :func:`hex_frac`, parenthesized."""
    return f"({ddb_hex_int(hexpr, 1, 8)} / 4294967296.0)"


# ---------------------------------------------------------------------------
# Count–min sketch (shared by queries/governance.q179 and the streaming
# twin in streaming/jobs.py).  The sketch IS a DataFrame of (j, bucket,
# cnt) cells — fixed ≤ CMS_DEPTH·CMS_WIDTH rows of mergeable state —
# built from ONE salted md5 per input row with the j-th hash taken as
# the j-th 5-hex (20-bit) slice of the digest (single-digest
# construction, like minhash_signatures; slices of a cryptographic
# digest are independent).  All arithmetic is portable
# md5/substring/conv, so the ``ddb_*`` twins below recompute identical
# cells in DuckDB (q179's oracle is built from them).

CMS_DEPTH = 4
CMS_WIDTH = 2048


def cms_digest(key: Column) -> Column:
    """ONE md5 per row; all CMS_DEPTH hash functions slice it."""
    return salted_md5(key, "cms")


def cms_bucket_from_digest(j: int, digest: Column) -> Column:
    """Bucket of hash row j in [0, CMS_WIDTH): the j-th 20-bit digest slice."""
    return hex_int(digest, 1 + j * 5, 5) % CMS_WIDTH


def cms_depth_buckets(digest: Column) -> Column:
    """Exploded (j, bucket) struct stream — one row per hash function."""
    return F.explode(
        F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                cms_bucket_from_digest(j, digest).alias("bucket"),
            )
            for j in range(CMS_DEPTH)
        ])
    )


def cms_cells(df: DataFrame, key: Column) -> DataFrame:
    """The sketch: (j, bucket, cnt) counter cells.  groupBy partial-
    aggregates map-side, so the exchange carries ≤ CMS_DEPTH·CMS_WIDTH
    rows per task.  Works identically on a static frame and a streaming
    frame — on a stream the SAME aggregation becomes incremental sketch
    state (streaming/jobs.streaming_cms_cells), which is the point of
    CMS: update and merge are the same counter addition."""
    return (
        df.select(cms_digest(key).alias("dg"))
        .select(cms_depth_buckets(F.col("dg")).alias("c"))
        .select("c.j", "c.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def ddb_cms_bucket(j_sql: str, key_sql: str) -> str:
    """DuckDB twin of :func:`cms_bucket_from_digest` over
    :func:`cms_digest` of ``key_sql``, for hash row ``j_sql``."""
    return (
        ddb_hex_int(ddb_salted_md5(key_sql, "cms"),
                    f"1 + CAST({j_sql} AS INT) * 5", 5)
        + f" % {CMS_WIDTH}"
    )


def ddb_cms_cells(table: str, key_sql: str) -> str:
    """DuckDB twin of :func:`cms_cells`: a SELECT of (j, bucket, cnt)."""
    return (
        "SELECT t.j, " + ddb_cms_bucket("t.j", key_sql)
        + " AS bucket, COUNT(*) AS cnt "
        f"FROM {table}, UNNEST(range(0, {CMS_DEPTH})) AS t(j) GROUP BY 1, 2"
    )
